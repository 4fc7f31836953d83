"""Regenerate PLANS.md: formatted physical plans of the scale-path queries.

Run from the repo root: ``python scripts/gen_plans.py``. Plans are taken
at sf0.01 (structure is SF-independent; AQE finalizes sizes at runtime).
The properties called out in each note are asserted by
tests/test_plan_quality.py so they cannot silently regress.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2orc_spark.registry import all_queries  # noqa: E402
from osm2orc_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

NOTES = {
    "q1_pricing_summary": (
        "TPC-H Q1: scan -> partial hash agg -> one exchange -> final agg. "
        "PushedFilters carry the shipdate predicate into the parquet scan; "
        "ReadSchema prunes to the 7 needed columns."
    ),
    "dedup_minhash_lsh": (
        "MinHash-LSH: columnar signature build (no explode), banded candidate "
        "equi-join, exact-Jaccard verify on candidates only via in-task "
        "array_intersect over the persisted per-doc shingle arrays (r8)."
    ),
    "dedup_ppjoin": (
        "PPJoin: single doc_id prefix-rank window (set size rides along from "
        "size(arr)); prefix + length filters prune candidates; verify is "
        "in-task array_intersect over the persisted shingle arrays (r8) — "
        "no fan-out joins or pair agg; partial aggs everywhere."
    ),
    "embedding_near_dup_lsh": (
        "RP-LSH (64-bit/8x8 chunks): signature build in one projection, chunk "
        "equi-join candidates, exact-cosine verify only on candidates."
    ),
    "ann_ivfpq_probe": (
        "Composed IVF-PQ: NO join, NO exchange before the TakeOrdered "
        "shortlist. r9: the whole pre-shortlist pipeline (coarse argmin, "
        "8 subspace argmins, LUT sum, exact query cosine) is ONE "
        "MapInArrow numpy kernel over the scan (centroids/codebooks as "
        "kernel constants) — collect-identical to the r8 interpreted "
        "zip_with/aggregate expression form and 6.8x faster at 800k "
        "vectors; the probe-cluster filter moves inside the kernel, so "
        "the scan shows no PushedFilters beyond column pruning."
    ),
    "anomaly_zscore_events": (
        "Broadcast-stats scoring: the |types|-row sufficient-stats aggregate "
        "broadcasts back onto the fact scan - the fact table is never "
        "shuffled."
    ),
    "curation_dsir_select": (
        "DSIR: hashed-feature explode with ONE groupBy(doc_id) exchange; "
        "4096-row score table broadcast; TakeOrdered top-k joined back as "
        "the flag. r8: feats (narrow post-bucket frame) and weights "
        "(one row per doc) are persisted — each feeds two consumers and "
        "Catalyst planned the tokenize+explode subtree 4x without the "
        "caches (measured 1.9x at sf0.1, dsir_persist_shapes micro)."
    ),
    "ohlc_hourly_bars": (
        "OHLC without sort windows: partial-aggregable min_by/max_by over a "
        "lexicographic key - one exchange of pre-combined rows."
    ),
    "dedup_duplicate_spans": (
        "Substring dedup (r6 skew-safe form): the >=2-distinct-docs filter "
        "is min(doc_id) != max(doc_id) via groupBy(span) — MAP-SIDE partial "
        "min/max (one row per span per task regardless of a span's df), NO "
        "Expand node, never a window over span (window partitions cannot "
        "be AQE-skew-split and hot boilerplate spans are this operator's "
        "subject matter); the tiny dup-span dictionary semi-joins back "
        "(AQE-broadcastable), then the gaps-and-islands window partitions "
        "by doc_id. r7: the exploded span stream is persisted (feeds both "
        "the dictionary build and the probe side; measured -16% vs "
        "recompute under this shape) — both consumers read one "
        "InMemoryTableScan."
    ),
    "curation_canonical_docs": (
        "Canonical pick (r7 skew-safe form): the per-cluster argmax is ONE "
        "max(struct(quality_score, -doc_id)) aggregate — SortAggregate with "
        "a PARTIAL phase (struct buffers are not hash-aggregable but still "
        "map-side combine), so a 10^6-member boilerplate cluster ships one "
        "row per task; never a row_number window over component (no partial "
        "phase, not AQE-splittable)."
    ),
    "curation_temperature_mix": (
        "Temperature resampling (r7): per-lang quota table broadcast; the "
        "rank filter carries the literal MIX_TARGET conjunct so "
        "InferWindowGroupLimit plants a partial WindowGroupLimit BELOW the "
        "exchange — each map task forwards at most TARGET rows per lang "
        "(the window analogue of map-side combine); the bare quota-column "
        "filter would sort the whole majority language in one task "
        "(measured in SCALING_SKEW.jsonl rank_cap_crossover)."
    ),
    "ann_ivfpq_recall": (
        "Recall-vs-cost curve (r5): three (nprobe, shortlist) configs share "
        "ONE bounded codebook fit (TakeOrdered md5-ranked sample, "
        "max_fit_rows cap); each config is the same join-free scan-stage "
        "shape as ann_ivfpq_probe, unioned with the exact top-k overlap "
        "aggregates."
    ),
    "ann_ivf_probe": (
        "IVF probe (r8): the per-vector best-centroid assignment is a "
        "map-side-combinable max_by(struct) aggregate — partial_max_by in "
        "the plan, one row per vector per task before the exchange — never "
        "a row_number window over the n x k assignment frame (no partial "
        "phase, k x the exchange volume). The k-row probe ranking and the "
        "1-row query stay broadcast."
    ),
    "embedding_prototype_prune": (
        "Prototype prune (r7 two-level rank, r8 null-safe): per-label rank "
        "= bucket-count offset (window over the quantization-bounded counts "
        "table) + residual row_number over exact ties; all bucket keys "
        "coalesce NULL cosines (zero-norm vectors under try_divide) into a "
        "sentinel bucket below the grid so the offsets equi-join cannot "
        "drop rows; centroids broadcast."
    ),
    "sessionize_events_chunked": (
        "Split-and-stitch sessionization (r8, non-registered scale variant "
        "of sessionize_events — output proven bit-identical): event-level "
        "lag/cumsum windows partition by (user_id, chunk) so a hot user "
        "splits across tasks; the seam stitch and renumbering windows run "
        "over the per-chunk summary stream (bounded by timespan/chunk_ms "
        "per user, independent of event count); the final groupBy runs on "
        "session rows; the session-summary frame (lsess) is persisted — "
        "it feeds both the stitch build and the final join, and Catalyst "
        "does not dedup subtrees. Measured xl_hot: 1.01x skew ratio, "
        "2.9x faster than the registered spelling on the hot twin."
    ),
    "simhash_near_dup_refined": (
        "Recursive-pigeonhole SimHash refinement (late r8; since r9 the "
        "registered query's own auto-routed hot path — EXACT at any "
        "corpus size, bit-identical at sf0.01/sf0.1 with the hot path "
        "live): hot (c, cv) buckets (membership bounded at 16,384 rows, "
        "BROADCAST) fan out to four 9-bit residual sub-chunk keys; <= 3 "
        "bit errors guarantee one clean sub-chunk. 128x join-row cut in "
        "the coincidence-dominated regime (2M random signatures). r10: "
        "the dispatcher routes here on the flat-bucket coincidence-MASS "
        "probe (> 2^28 reducible pairs), no longer on corpus size, so "
        "truth-dominated corpora of any size keep the banded plan."
    ),
    "dedup_minhash_lsh_dfcap": (
        "MinHash-LSH with a document-frequency cap (r10 join-back "
        "spelling — the REGISTERED plan): the over-cap shingle set is no "
        "longer a forced-broadcast anti-join (its cardinality is the "
        "m/cap vocabulary tail — grows with the corpus, an unbounded "
        "build side = the #10 memory cliff); the cap applies as a plain "
        "equi-join back to the per-shingle df aggregate with fan-out 1 "
        "per (doc, shingle) row, AQE-splittable, broadcast only if AQE "
        "prices it small. A/B measured faster at XL (25.8 -> 23.8 s), "
        "identity at sf0.01 (dfcap_ab)."
    ),
    "dedup_containment_pairs": (
        "Containment pairs over the df-capped shingle stream: the SAME "
        "r10 join-back spelling as dedup_minhash_lsh_dfcap (shared cap "
        "path), then candidate equi-join + in-task array_intersect "
        "verify bounded by the smaller set size; no forced broadcast "
        "anywhere in the cap path."
    ),
    "ann_knn_join_prebuilt": (
        "Corpus-wide kNN self-join over the prebuilt IVF index (r11): "
        "ONE parquet scan feeds a MapInArrow assignment kernel "
        "(centroids as closure literals — no join), persisted so build "
        "and probe sides read the same InMemoryRelation; per-cell "
        "scoring is a cogrouped FlatMapCoGroupsInPandas blocked int64 "
        "matmul emitting <= nprobe*k partials per vector; the merge "
        "window gets a map-side WindowGroupLimit below its exchange "
        "(<= 10 rows per vector). Never all-pairs: candidate mass is "
        "n * nprobe * cell_size."
    ),
    "curation_decontaminate_factored": (
        "Combination-factored decontamination (r10 scale-killer #7; the "
        "registered query's own auto-routed hot path above 2^27 flat "
        "pairs, captured here FORCED): docs group by their hot-shingle "
        "combination and each distinct combination's test-doc union "
        "count computes once — never the flat per-shingle "
        "df_train x df_test fan-out join (2.1e12 rows at the measured "
        "2.56M-doc twin, DNF class). No window over shingle, no "
        "cartesian; bounded hot-shingle dictionary."
    ),
    "customer_rfm_segments_ranged": (
        "Range-partitioned two-level NTILE (r10 scale-killer #11; the "
        "registered query's hot path above DIM_WINDOW_ROWS_MAX dim "
        "rows, captured FORCED): the three dimension-global N=1 "
        "NTILE/rank windows become range-partitioned in-chunk windows "
        "plus a bounded per-chunk summary carry (closed-form integer "
        "NTILE over global rank; property-tested vs F.ntile). No "
        "unpartitioned WindowExec over the customer dimension — the "
        "flat plan sorts 10^10 rows in ONE task at 100 TB."
    ),
    "part_abc_pareto_ranged": (
        "Ranged running-share Pareto (same #11 class, FORCED): the "
        "global revenue-ordered cumulative sum splits into "
        "range-partitioned chunks with prefix-sum carry; the ABC class "
        "boundaries are exact because the carry is the full prefix "
        "aggregate, not an approximation."
    ),
    "percentiles_value_by_type_ranged": (
        "Distributed exact percentiles (r10 scale-killer #13, FORCED): "
        "two-regime routing on row count THEN per-type distinct "
        "cardinality — the flat percentile() aggregate's reducer "
        "materializes a per-type distinct-value map (the cliff when "
        "distinct ~ rows); the ranged spelling computes order "
        "statistics via range-partitioned rank windows with "
        "bit-identical interpolation (pinned by a 200-trial IEEE "
        "sweep)."
    ),
    "rolling_hour_user_activity_ghost": (
        "Ghost-replication trailing-RANGE frame (r10 scale-killer #12; "
        "the registered query's hot-key path, captured FORCED on the "
        "non-null stream): chunk = us DIV frame_width, each row emitted "
        "in its own chunk and ghosted into chunk k+1 (frame-only, "
        "filtered after the window) — exact because chunk width == "
        "frame width means a trailing frame never reaches past the "
        "previous chunk; windows partition by (user, chunk), so a "
        "hot user's trailing-RANGE sort splits across tasks (312.9 s "
        "-> 29.6 s on the 3.2M sort twin)."
    ),
    "dupgraph_triangle_stats": (
        "Triangle census (r10 degree-ordered core): edges annotate both "
        "endpoint degrees (two small-side joins against the SAME degree "
        "table the wedge stat needs anyway), orient low->high "
        "(degree, id) rank, persist the oriented set (feeds wedge "
        "enumeration twice + the closure side), wedge self-join on the "
        "apex, LEFT-SEMI closure. Per-apex fan-out is C(out_deg, 2) "
        "with out_deg bounded ~sqrt(2E) amortized — the id-ordered "
        "shape it replaces fanned out in_deg*out_deg per node, "
        "measured quadratic on hub graphs (triangle_hub_xl: 57 s at "
        "hub 3e4, analytic 2.5e11 join rows at hub 1e6 vs 6.3 s flat "
        "for this plan)."
    ),
    "ann_knn_join_prebuilt_scaledk_forced": (
        "The kNN join's k-scale + hierarchical-assignment switch path, "
        "captured FORCED (KNN_SCALE_ROWS_MAX=-1, KNN_HIER_CELLS_MIN=0): "
        "the PLAN is structurally IDENTICAL to the base section above "
        "by construction — both switches live INSIDE the MapInArrow "
        "assignment kernel (more centroids as closure constants; the "
        "exact two-level triangle-inequality-pruned scan replacing the "
        "flat argmin), so no operator, exchange, or pushdown moves. "
        "That identity is machine-asserted by the switch-registry plan "
        "pin; this section documents the forced path's capture so every "
        "switch has one (r11 missing #3)."
    ),
    "curation_semdedup": (
        "SemDeDup over the kNN self-join (r12): the kNN subtree is the "
        "base plan above; the greedy tail is all linear — filter on "
        "cosine >= tau, symmetrizing Union + HashAggregate(distinct), "
        "one groupBy(vec_id) with partial aggregation (count + "
        "conditional min witness), and a final left equi-join back to "
        "the one-column vec_id scan. No window, no broadcast of "
        "anything unbounded, <= 2*n*k edge rows total."
    ),
    "curation_semdedup_docs": (
        "The corpus-facing application (r12): the semdedup subtree "
        "above plus ONE equi-join of the survivor ids against the "
        "pruned 4-column documents scan — survivors filter before the "
        "join, so join mass is <= kept rows. Linear tail on a linear "
        "pipeline."
    ),
    "ann_knn_recall": (
        "Recall@5 eval of the approximate kNN self-join (r12): exact "
        "side is ann_topk_batch's broadcast-query-block scan (BroadcastNestedLoopJoin "
        "of a 10-row block — bounded by construction, never corpus x "
        "corpus) re-ranked to k=5; approx side is the kNN join "
        "filtered to the same 10 query ids via a broadcast semi "
        "pattern; LEFT join + groupBy(q_id) count. The eval adds no "
        "unbounded operator to either subtree."
    ),
    "ann_knn_join_tuned": (
        "Recall-routed kNN join (r13): IDENTICAL plan shape to "
        "ann_knn_join_prebuilt — assignment scan with centroids as "
        "closure literals, cogrouped per-cell blocked matmul, bounded "
        "per-vector window — only the probe fan-out constant differs "
        "(nprobe* chosen by the exact recall curve; more probe rows "
        "through the same linear pipeline). The routing measurement "
        "itself is the exact batch ground-truth subtree plus a bounded "
        "driver collect; it runs before this plan and adds no operator "
        "to it."
    ),
    "osm_changeset_discussions": (
        "Changeset discussion rollup (r13, the reference TODO surface): "
        "parquet scan of the nested comments array -> posexplode "
        "(narrow per-row generate, no shuffle) -> ONE hash aggregate on "
        "commenter_uid with partial aggregation map-side. No join, no "
        "window; ReadSchema prunes to id/uid/comments."
    ),
    "osm_changeset_entities": (
        "Mixed-entity per-type rollup (r13, the reference TODO's "
        "entity-table half): parquet scan pruned to the seven consumed "
        "columns; COUNT(DISTINCT id) plans as the standard "
        "distinct-aggregate rewrite — partial-distinct on (type, id) "
        "map-side, an exchange proportional to distinct (type, id) "
        "pairs, then the per-type final. No join, no window; the "
        "distinct exchange is the scale cost driver."
    ),
}


def main() -> None:
    spark = get_spark(app_name="gen_plans")
    qs = all_queries()
    out = [
        "# Physical plans of the scale-path queries",
        "",
        "`df.explain('formatted')` at sf0.01 (structure is SF-independent; AQE",
        "finalizes sizes at runtime). Regenerate with `python scripts/gen_plans.py`",
        "if queries change. What to look for in each plan is noted inline;",
        "`tests/test_plan_quality.py` asserts these properties so they cannot",
        "silently regress.",
        "",
    ]
    from osm2orc_spark.operators.dedup import simhash_near_dup_refined
    from osm2orc_spark.queries.relational import sessionize_events_chunked

    from osm2orc_spark.operators import switches
    from osm2orc_spark.queries.advanced import _rolling_hour_chunked_core
    from pyspark.sql import functions as F
    from osm2orc_spark.tables import load

    def _forced(base_name: str, knob: str):
        """Capture a registered query's switch path by forcing its
        threshold knob to -1 for the duration of the plan build."""

        def fn(spark, sf):
            saved = getattr(switches, knob)
            setattr(switches, knob, -1)
            try:
                return qs[base_name].fn(spark, sf)
            finally:
                setattr(switches, knob, saved)

        return fn

    def _forced_knn_scaledk(spark, sf):
        """The kNN switches live in ann_index (not switches): force the
        scaled fit and the hierarchical assignment for the plan build."""
        from osm2orc_spark.operators import ann_index

        saved = (
            ann_index.KNN_SCALE_ROWS_MAX,
            ann_index.KNN_HIER_CELLS_MIN,
            ann_index.KNN_HIER_PRUNE_CELLS_MIN,
        )
        ann_index.KNN_SCALE_ROWS_MAX = -1
        ann_index.KNN_HIER_CELLS_MIN = 0
        ann_index.KNN_HIER_PRUNE_CELLS_MIN = 0
        try:
            return qs["ann_knn_join_prebuilt"].fn(spark, sf)
        finally:
            (
                ann_index.KNN_SCALE_ROWS_MAX,
                ann_index.KNN_HIER_CELLS_MIN,
                ann_index.KNN_HIER_PRUNE_CELLS_MIN,
            ) = saved

    extra = {
        "sessionize_events_chunked": sessionize_events_chunked,
        "simhash_near_dup_refined": simhash_near_dup_refined,
        "curation_decontaminate_factored": _forced(
            "curation_decontaminate", "DECON_FLAT_PAIRS_MAX"
        ),
        "customer_rfm_segments_ranged": _forced(
            "customer_rfm_segments", "DIM_WINDOW_ROWS_MAX"
        ),
        "part_abc_pareto_ranged": _forced(
            "part_abc_pareto", "DIM_WINDOW_ROWS_MAX"
        ),
        "percentiles_value_by_type_ranged": _forced(
            "percentiles_value_by_type", "DIM_WINDOW_ROWS_MAX"
        ),
        "rolling_hour_user_activity_ghost": lambda spark, sf: (
            _rolling_hour_chunked_core(
                load(spark, sf, "events").filter(F.col("user_id").isNotNull())
            )
        ),
        "ann_knn_join_prebuilt_scaledk_forced": _forced_knn_scaledk,
    }
    for name, note in NOTES.items():
        df = (qs[name].fn if name in qs else extra[name])(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n{note}\n\n```\n{buf.getvalue().strip()}\n```\n")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo_root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
