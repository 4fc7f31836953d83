"""Measure wall-clock scaling of the scale-path queries across SF steps.

Run from the repo root: ``python scripts/measure_scaling.py``.  For each
query, times min-of-N (default 3) steady-state passes at sf0.01 and
sf0.1 in one warmed session and prints the 10x-step wall ratio — the
number SURVEY.md's "measured scaling" table quotes.  A ratio well above
the data growth factor flags super-linear work (unbounded candidate
generation, a skew-collapsed shuffle); at these toy sizes most operators
sit below ~2x because fixed job overhead still dominates.

``python scripts/measure_scaling.py --skew`` runs the SKEW mode instead
(r5 verdict #5): the uniform 10x-step table cannot see the 100 TB risk —
one hot key.  Skew mode derives two deterministic skewed twins of sf0.1
under .scaling_skew/ (never touching /root/testdata):

- hot_span:  every 10th document gets the same 8-token boilerplate
  sentence appended — one span/shingle family at 10% document frequency
  (the license-header scenario the span/shingle operators exist for).
- hot_user:  every 10th event is remapped to ONE user_id — a single key
  holding 10% of the events table (the hot-session scenario for the
  window family).

Each skew-sensitive query is timed at baseline sf0.1 and on its skewed
twin; the reported ``skew_ratio`` (skewed wall / baseline wall) is the
resilience number — near 1.0 means the plan absorbs the hot key
(partial aggregation, prefix filters, df caps, salting), a blow-up
means the operator needs attention before production scale.

Output: one JSON line per (query, mode) + a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2orc_spark.registry import all_queries  # noqa: E402
from osm2orc_spark.session import get_spark  # noqa: E402

SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
PASSES = 3

# The scale-path set: every operator whose 100 TB story depends on
# bounded candidate generation or single-exchange shapes.
QUERIES = [
    "q1_pricing_summary",
    "dedup_exact",
    "dedup_minhash_lsh",
    "simhash_near_dup",
    "dedup_ppjoin",
    "dedup_containment_ppjoin",
    "dedup_duplicate_spans",
    "embedding_near_dup_lsh",
    "ann_topk_bruteforce",
    "ann_ivf_probe",
    "ann_ivfpq_probe",
    "text_quality_scores",
    "curation_dsir_select",
    "embedding_prototype_prune",
]


# Skew-sensitivity set: (query, skew mode) pairs.  Document-derived
# operators face the hot-span corpus; event/window operators the
# hot-user stream.  dfcap and ppjoin variants are IN the list precisely
# because their designs claim hot-key immunity — the measurement checks
# the claim, not just the failure.
SKEW_QUERIES = [
    ("dedup_duplicate_spans", "hot_span"),
    ("dedup_spans_clean", "hot_span"),
    ("dedup_ppjoin", "hot_span"),
    ("dedup_containment_ppjoin", "hot_span"),
    ("dedup_minhash_lsh", "hot_span"),
    ("dedup_minhash_lsh_dfcap", "hot_span"),
    ("dedup_exact", "hot_span"),
    ("sessionize_events", "hot_user"),
    ("latest_event_window", "hot_user"),
    ("tumbling_window_hourly", "hot_user"),
    ("ohlc_hourly_bars", "hot_user"),
    ("salted_hot_key_agg", "hot_user"),
    ("window_lag_transitions", "hot_user"),
    ("anomaly_zscore_events", "hot_user"),
]

BASE_SF = "/root/testdata/sf0.1"
SKEW_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaling_skew"
)
BOILERPLATE = (
    "this document is provided as is without warranty of any kind whatsoever"
)
HOT_USER_ID = 424242

# --- XL skew mode (r6 verdict #2) -----------------------------------------
# At sf0.1 the hot span has df~500 and the hot user ~10k events —
# partitions that small cannot straggle anything, so the r6 ratios proved
# the harness plumbing, not the 100 TB claim.  ``--skew-xl`` rebuilds the
# measurement in the regime the claim lives in: documents and events are
# replicated XL_REP x with PER-REPLICA TOKEN SALTING (every token gets a
# "~<i>" suffix, so replicas share ZERO shingles and the near-dup pair
# count stays LINEAR in the replication — naive replication would make
# every replica a near-dup of every other and measure a quadratic
# verify blow-up instead of skew), and the hot-key rate is raised to 50%:
#
# - xl_hot documents: 5,000 x XL_REP docs; half carry the same UNSALTED
#   8-token boilerplate sentence -> each boilerplate 3-shingle has
#   df = 2,500 * XL_REP  (10^5 at the default XL_REP=40).
# - xl_hot events: 100k x XL_REP rows; half remapped to ONE user_id
#   (2 * 10^6 rows on one key at the default).
# - xl_base: identical replication + salting, NO hot key — the ratio
#   denominator, so skew_ratio isolates the hot key at constant volume.
XL_REP = int(os.environ.get("SKEW_XL_REP", "40"))

# (query, table family) pairs run at XL scale.  dedup_minhash_lsh (no df
# cap) is deliberately absent: an uncapped hot shingle family is the
# documented failure the dfcap variant exists for, and at df 10^5 its
# band buckets would go quadratic by design, not by regression.
XL_QUERIES = [
    ("dedup_duplicate_spans", "doc"),
    ("dedup_ppjoin", "doc"),
    ("dedup_containment_ppjoin", "doc"),
    ("dedup_minhash_lsh_dfcap", "doc"),
    ("dedup_exact", "doc"),
    ("sessionize_events", "event"),
    # r8: the split-and-stitch variant (r7 verdict #1) — not registered
    # (registry frozen at 162), measured here against the same twins so
    # SCALING_SKEW.jsonl records the bounded-straggler claim; its
    # bit-identity to the registered query on the xl_hot twin is checked
    # and recorded by _sessionize_xl_identity below.
    ("sessionize_events_chunked", "event"),
    ("tumbling_window_hourly", "event"),
    ("salted_hot_key_agg", "event"),
    ("anomaly_zscore_events", "event"),
]
XL_PASSES = int(os.environ.get("SKEW_XL_PASSES", "2"))


def _sessionize_xl_identity(spark, hot_dir: str) -> dict:
    """Exact set-identity of chunked vs registered sessionization on the
    xl_hot twin (both outputs are duplicate-free on (user_id,
    session_id), so |A| == |B| == |A inner-join B on all cols| proves
    A == B)."""
    from osm2orc_spark.queries.relational import (
        sessionize_events_chunked,
    )

    reg = all_queries()["sessionize_events"].fn(spark, hot_dir)
    chk = sessionize_events_chunked(spark, hot_dir)
    n_reg = reg.count()
    n_chk = chk.count()
    n_both = reg.join(chk, ["user_id", "session_id", "n_events"]).count()
    return {
        "micro": "sessionize_chunked_xl_identity",
        "registered_rows": n_reg,
        "chunked_rows": n_chk,
        "matching_rows": n_both,
        "identical": bool(n_reg == n_chk == n_both),
    }


def _build_skew_data(spark) -> dict[str, str]:
    """Derive the two skewed twins of sf0.1 (idempotent, deterministic)."""
    from pyspark.sql import functions as F

    from osm2orc_spark.tables import TABLES, load

    out = {}
    for mode in ("hot_span", "hot_user"):
        mode_dir = os.path.join(SKEW_DIR, mode)
        marker = os.path.join(mode_dir, "_BUILT")
        out[mode] = mode_dir
        if os.path.exists(marker):
            continue
        os.makedirs(mode_dir, exist_ok=True)
        for t in TABLES:
            df = load(spark, BASE_SF, t)
            if mode == "hot_span" and t == "documents":
                df = df.withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 10 == 0,
                        F.concat(F.col("text"), F.lit(" " + BOILERPLATE)),
                    ).otherwise(F.col("text")),
                )
            if mode == "hot_user" and t == "events":
                df = df.withColumn(
                    "user_id",
                    F.when(
                        F.col("event_id") % 10 == 0, F.lit(HOT_USER_ID)
                    ).otherwise(F.col("user_id")),
                )
            df.write.mode("overwrite").parquet(os.path.join(mode_dir, f"{t}.parquet"))
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return out


def _build_xl_data(spark) -> dict[str, str]:
    """Derive the two XL twins (idempotent, deterministic, never touching
    /root/testdata).  Only documents + events are written — the XL query
    set reads nothing else."""
    from pyspark.sql import functions as F

    from osm2orc_spark.tables import load

    par = spark.sparkContext.defaultParallelism
    out = {}
    for mode in ("xl_base", "xl_hot"):
        mode_dir = os.path.join(SKEW_DIR, f"{mode}_r{XL_REP}")
        marker = os.path.join(mode_dir, "_BUILT")
        out[mode] = mode_dir
        if os.path.exists(marker):
            continue
        os.makedirs(mode_dir, exist_ok=True)
        docs = load(spark, BASE_SF, "documents")
        rep = docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(XL_REP - 1))).alias("i"), "*"
        )
        # Per-replica token salt: replicas share zero shingles (see the
        # XL_REP comment above).  The salt transform must reference the
        # exploded ``i`` so per-row evaluation is inherent, not the
        # generator-projection pitfall.
        salted = F.array_join(
            F.transform(
                F.split("text", " "),
                lambda x: F.concat(x, F.lit("~"), F.col("i").cast("string")),
            ),
            " ",
        )
        text = (
            F.when(
                (F.col("doc_id") % 2) == 0,
                F.concat(salted, F.lit(" " + BOILERPLATE)),
            ).otherwise(salted)
            if mode == "xl_hot"
            else salted
        )
        rep.select(
            (F.col("doc_id") * XL_REP + F.col("i")).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).alias("n_chars"),
        ).repartition(par).write.mode("overwrite").parquet(
            os.path.join(mode_dir, "documents.parquet")
        )
        events = load(spark, BASE_SF, "events")
        erep = events.select(
            F.explode(F.sequence(F.lit(0), F.lit(XL_REP - 1))).alias("i"), "*"
        )
        user = (
            F.when((F.col("event_id") % 2) == 0, F.lit(HOT_USER_ID)).otherwise(
                F.col("user_id")
            )
            if mode == "xl_hot"
            else F.col("user_id")
        )
        erep.select(
            (F.col("event_id") * XL_REP + F.col("i")).alias("event_id"),
            "ts",
            user.alias("user_id"),
            "event_type",
            "value",
            "props",
        ).repartition(par).write.mode("overwrite").parquet(
            os.path.join(mode_dir, "events.parquet")
        )
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return out


def main_skew_xl() -> None:
    spark = get_spark(
        app_name="measure_scaling_skew_xl",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    dirs = _build_xl_data(spark)
    # XL_ONLY: comma-separated query filter for re-measuring just the
    # queries a plan change touched (skips the identity check; the other
    # lines in SCALING_SKEW.jsonl stay the record for unchanged plans).
    only = {q for q in os.environ.get("XL_ONLY", "").split(",") if q}
    if not only:
        print(json.dumps(_sessionize_xl_identity(spark, dirs["xl_hot"])), flush=True)
    from osm2orc_spark.queries.relational import sessionize_events_chunked

    qs = all_queries()
    extra = {"sessionize_events_chunked": sessionize_events_chunked}
    results: dict[str, dict] = {}
    for name, family in XL_QUERIES:
        if only and name not in only:
            continue
        fn = qs[name].fn if name in qs else extra[name]
        base = _timed(spark, fn, dirs["xl_base"], passes=XL_PASSES)
        skew = _timed(spark, fn, dirs["xl_hot"], passes=XL_PASSES)
        rec = {
            "mode": f"xl_{family}",
            "rep": XL_REP,
            "base_sec": round(base, 3),
            "skew_sec": round(skew, 3),
            "skew_ratio": round(skew / base, 2),
        }
        results[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
    worst = max(results.items(), key=lambda kv: kv[1]["skew_ratio"])
    print(
        json.dumps(
            {
                "summary": "XL hot-key skew wall ratios "
                f"(50% hot key, {XL_REP}x sf0.1, salted replication)",
                "queries": {k: v["skew_ratio"] for k, v in results.items()},
                "worst": {"query": worst[0], **worst[1]},
            }
        ),
        flush=True,
    )
    spark.stop()


EMB_REP = int(os.environ.get("SKEW_EMB_REP", "400"))


def _build_xl_embeddings(spark) -> str:
    """Derive an XL embeddings twin (idempotent, deterministic):
    2,000 x EMB_REP vectors (800k at the default).  Per-replica SIGN
    SALTING — every replica i multiplies each dim by a deterministic
    ±1 pattern from hash(i, dim).  A diagonal ±1 matrix is orthogonal,
    so ALL in-replica pairwise cosines are preserved EXACTLY (the
    near-dup structure replicates linearly, the embedding analog of the
    doc twins' token salting) while cross-replica cosines decorrelate
    to ~0 — naive replication would instead make every replica an
    exact dup of every other and measure a designed quadratic, not
    scale."""
    from pyspark.sql import functions as F

    from osm2orc_spark.tables import load

    mode_dir = os.path.join(SKEW_DIR, f"xl_emb_r{EMB_REP}")
    marker = os.path.join(mode_dir, "_BUILT")
    if os.path.exists(marker):
        return mode_dir
    os.makedirs(mode_dir, exist_ok=True)
    emb = load(spark, BASE_SF, "embeddings")
    rep = emb.select(
        F.explode(F.sequence(F.lit(0), F.lit(EMB_REP - 1))).alias("i"), "*"
    )
    salted = F.transform(
        "embedding",
        lambda x, idx: x
        * (F.pmod(F.hash(F.col("i"), idx), F.lit(2)) * 2 - 1).cast("float"),
    )
    rep.select(
        (F.col("vec_id") * EMB_REP + F.col("i")).alias("vec_id"),
        salted.alias("embedding"),
        "label",
    ).repartition(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(os.path.join(mode_dir, "embeddings.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return mode_dir


# embedding_near_dup_lsh saturates its 8-bit band space at this scale
# (`lsh_bucket_saturation`); its max-bucket probe routes it through the
# adaptive band refinement, so the registered query is the one timed.
ANN_XL_QUERIES = (
    "ann_topk_bruteforce",
    "ann_ivf_probe",
    "ann_ivfpq_probe",
    "ann_topk_hamming",
    "embedding_near_dup_lsh",
)


def main_ann_micro() -> None:
    """Measure the ANN/embedding family on the XL embeddings twin —
    2,000 vectors was fit-in-one-task territory; 800k exercises the
    bounded-fit collects (65,536-row codebook caps), the broadcast
    one-row query scans, and the RP-LSH banding at a size where bucket
    mechanics matter.  No hot twin: the embedding hot key is an exact
    duplicate class, whose near-dup pair OUTPUT is quadratic by
    definition (exact-dedup-first is the pipeline answer, documented in
    SURVEY §8) — there is no non-degenerate skew to measure."""
    spark = get_spark(
        app_name="measure_scaling_ann",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb_dir = _build_xl_embeddings(spark)
    qs = all_queries()
    only = {q for q in os.environ.get("ANN_ONLY", "").split(",") if q}
    for name in ANN_XL_QUERIES:
        if only and name not in only:
            continue
        walls = []
        n_out = 0
        for i in range(XL_PASSES + 1):  # first pass warms
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = qs[name].fn(spark, emb_dir)
            n_out = out.count()
            walls.append(time.perf_counter() - t0)
        print(
            json.dumps(
                {
                    "micro": "ann_xl",
                    "round": 9,
                    "query": name,
                    "emb_rep": EMB_REP,
                    "vectors": 2000 * EMB_REP,
                    "wall_min_sec": round(min(walls[1:]), 3),
                    "out_rows": n_out,
                }
            ),
            flush=True,
        )
    spark.stop()


def main_banding_xl() -> None:
    """r9 (r8 verdict #1a/#1b done-criteria): run the REGISTERED banding
    queries to completion in the regimes where their r8 spellings
    failed or would fail, now that the strategy switches are wired in:

    - ``embedding_near_dup_lsh`` on the 800k-vector twin — the r8
      registered spelling DNF'd in 590 s there (1.19e10 join rows,
      ``lsh_bucket_saturation``); the probe now engages adaptive band
      refinement automatically.  One timed pass (the r8 refined record
      was one-pass too).
    - ``simhash_near_dup`` on a 2.2M-doc coincidence-regime twin (tiny
      8-random-token docs -> uniform signatures; n >> 4096*cap, the
      regime where the fixed banding is Theta(n^2/4096): 1.95e9
      candidate pairs analytic at 2e6 signatures) — the probe now
      engages the exact recursive pigeonhole.

    Plus the fit-once/probe-many record (r8 verdict #4): build the
    IVF/IVF-PQ index ONCE on the 800k twin, then time the prebuilt
    probes — the fused r8 walls (12.2 s / 24.3 s) were dominated by
    per-call fits this split amortizes away."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.ann_index import (
        ann_build_index,
        ann_ivf_probe_prebuilt,
        ann_ivfpq_probe_prebuilt,
    )

    spark = get_spark(
        app_name="measure_scaling_banding",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    only = {q for q in os.environ.get("BANDING_ONLY", "").split(",") if q}

    if not only or "lsh" in only:
        emb_dir = _build_xl_embeddings(spark)
        t0 = time.perf_counter()
        n = qs["embedding_near_dup_lsh"].fn(spark, emb_dir).count()
        wall = time.perf_counter() - t0
        probe = switches._PROBE_CACHE.get(
            (os.path.abspath(emb_dir), "lsh_max_bucket")
        )
        print(json.dumps({
            "micro": "lsh_registered_xl", "round": 9, "emb_rep": EMB_REP,
            "vectors": 2000 * EMB_REP, "wall_sec": round(wall, 3),
            "out_rows": n, "max_bucket_probe": probe,
            "strategy": "refined" if (probe or 0) > 256 else "banded",
            "note": "REGISTERED query, one pass — the r8 registered "
                    "spelling DNF'd in 590s on this twin "
                    "(lsh_bucket_saturation)",
        }), flush=True)

    if not only or "ann" in only:
        emb_dir = _build_xl_embeddings(spark)
        t0 = time.perf_counter()
        idx_ivf = ann_build_index(spark, emb_dir, kind="ivf")
        build_ivf = time.perf_counter() - t0
        t0 = time.perf_counter()
        idx_pq = ann_build_index(spark, emb_dir, kind="ivfpq")
        build_pq = time.perf_counter() - t0
        for name, fn, build in (
            ("ann_ivf_probe_prebuilt",
             lambda: ann_ivf_probe_prebuilt(spark, emb_dir, idx_ivf), build_ivf),
            ("ann_ivfpq_probe_prebuilt",
             lambda: ann_ivfpq_probe_prebuilt(spark, emb_dir, idx_pq), build_pq),
        ):
            walls = []
            n = 0
            for _ in range(XL_PASSES + 1):  # warm + timed
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                n = fn().count()
                walls.append(time.perf_counter() - t0)
            print(json.dumps({
                "micro": "ann_prebuilt_xl", "round": 9, "emb_rep": EMB_REP,
                "vectors": 2000 * EMB_REP, "query": name,
                "build_once_sec": round(build, 3),
                "probe_wall_min_sec": round(min(walls[1:]), 3),
                "out_rows": n,
            }), flush=True)

    if not only or "simhash" in only:
        n_docs = int(os.environ.get("SIMHASH_XL_DOCS", "2200000"))
        twin = _build_simhash_coin_twin(spark, n_docs)
        t0 = time.perf_counter()
        n = qs["simhash_near_dup"].fn(spark, twin).count()
        wall = time.perf_counter() - t0
        print(json.dumps({
            "micro": "simhash_registered_xl", "round": 10, "docs": n_docs,
            "wall_sec": round(wall, 3), "out_rows": n,
            "flat_pairs_probe": _simhash_probe_value(twin),
            "strategy": _simhash_strategy(twin),
            "note": "REGISTERED query, one pass, coincidence-dominated "
                    "regime (uniform random signatures, n >> 4096*cap; "
                    "registered banding is Theta(n^2/4096) here — 1.95e9 "
                    "candidate pairs analytic at 2e6 signatures, "
                    "simhash_coincidence_regime); r10: routed by the "
                    "sampled flat-bucket coincidence-mass probe instead "
                    "of corpus size",
        }), flush=True)
    if not only or "simhash-truth" in only:
        main_simhash_truth_regime(spark, qs)
    spark.stop()


def _simhash_probe_value(twin: str):
    from osm2orc_spark.operators import switches

    return switches._PROBE_CACHE.get(
        (os.path.abspath(twin), "simhash_flat_pairs")
    )


def _simhash_strategy(twin: str) -> str:
    from osm2orc_spark.operators import switches

    flat = _simhash_probe_value(twin)
    return (
        "refined"
        if flat is not None and flat > switches.SIMHASH_FLAT_PAIRS_MAX
        else "banded"
    )


def _build_simhash_coin_twin(spark, n_docs: int) -> str:
    """Uniform-random-signature corpus: every doc gets 8 unique md5
    tokens, so level-1 buckets fill ONLY by coincidence (~n/4096 each)."""
    from pyspark.sql import functions as F

    twin = os.path.join(SKEW_DIR, f"simhash_coin_{n_docs}")
    marker = os.path.join(twin, "_BUILT")
    if not os.path.exists(marker):
        os.makedirs(twin, exist_ok=True)
        toks = [
            F.substring(
                F.md5(F.concat(F.col("id").cast("string"), F.lit(f"-{j}"))),
                1, 8,
            )
            for j in range(8)
        ]
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *toks).alias("text"),
            F.lit("xx").alias("lang"),
            F.lit("synthetic").alias("source"),
            F.lit(71).alias("n_chars"),
        ).repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(os.path.join(twin, "documents.parquet"))
        with open(marker, "w") as fh:
            fh.write("ok\n")
    return twin


def main_simhash_truth_regime(spark, qs) -> None:
    """r10 (r9 verdict #4 done criterion): the OTHER regime — a dense
    truth-dominated corpus ABOVE 2^20 docs, where the retired
    corpus-size criterion would have refined but the coincidence-mass
    probe must keep the cheaper banded plan.

    Construction: FAM identical SINGLE-TOKEN docs per family.  A
    one-token doc's SimHash IS the token's 48-bit hash (each per-bit sum
    is +-1, so sign == bit), so family signatures are md5-UNIFORM over
    the chunk space — level-1 buckets are (near-)pure families of size
    ~FAM, ABOVE the flat cap (n/4096 + 8*sqrt), and the flat
    (refinement-reducible) mass is ~0 even though mean bucket size
    n/4096 > 256 saturates the old size rule.  (The first cut of this
    twin used 8-token docs: 8-token bit sums make P(bit=1) ~ 0.36, the
    biased chunk values pile ~4-5 families into each occupied bucket,
    and the CROSS-family coincidence mass dominated the banded join —
    refined measured 0.93x, i.e. cost-parity, because that twin was
    secretly coincidence-heavy.  Single-token docs remove the bias and
    isolate what this record is for: the fan-out premium refinement
    pays on pairs it cannot remove.)  Records the registered wall
    (probe-routed) and the forced-refined wall on the same twin:
    identical docs agree on every sub-chunk, so refinement's 4x
    sub-chunk explosion buys nothing and banded must be measurably
    cheaper."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.dedup import simhash_near_dup_refined

    fam = int(os.environ.get("SIMHASH_TRUTH_FAM", "420"))
    n_fam = int(os.environ.get("SIMHASH_TRUTH_NFAM", "2524"))
    n_docs = fam * n_fam
    twin = os.path.join(SKEW_DIR, f"simhash_truth1tok_{n_fam}x{fam}")
    marker = os.path.join(twin, "_BUILT")
    if not os.path.exists(marker):
        os.makedirs(twin, exist_ok=True)
        famc = (F.col("id") % n_fam).cast("string")
        tok = F.md5(F.concat(F.lit("fam-"), famc))
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            tok.alias("text"),
            F.lit("xx").alias("lang"),
            F.lit("synthetic").alias("source"),
            F.lit(32).alias("n_chars"),
        ).repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(os.path.join(twin, "documents.parquet"))
        with open(marker, "w") as fh:
            fh.write("ok\n")
    t0 = time.perf_counter()
    n = qs["simhash_near_dup"].fn(spark, twin).count()
    wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_ref = simhash_near_dup_refined(spark, twin).count()
    wall_ref = time.perf_counter() - t0
    print(json.dumps({
        "micro": "simhash_truth_regime_xl", "round": 10, "docs": n_docs,
        "families": n_fam, "family_size": fam,
        "flat_pairs_probe": _simhash_probe_value(twin),
        "flat_pairs_max": switches.SIMHASH_FLAT_PAIRS_MAX,
        "strategy": _simhash_strategy(twin),
        "registered_wall_sec": round(wall, 3),
        "forced_refined_wall_sec": round(wall_ref, 3),
        "refined_premium": round(wall_ref / wall, 2),
        "out_rows": n, "refined_out_rows": n_ref,
        "identical_counts": n == n_ref,
        "note": "truth-dominated regime above 2^20 docs: the retired "
                "size criterion would refine (n > 2^20); the "
                "coincidence-mass probe keeps the banded plan and the "
                "forced-refined wall prices the avoided premium",
    }), flush=True)


def main_decon_micro() -> None:
    """r10 scale-killer #7: curation_decontaminate /
    curation_contamination_report's flat train x test shingle equi-join
    fans out df_train(g) * df_test(g) rows per shingle — a boilerplate
    shingle shared corpus-wide makes the registered queries Theta(n^2)
    through a handful of unsplittable join keys.  The factored spelling
    (_union_hit_counts: hot-shingle combinations computed once, cold
    tail df-bounded) is output-identical and near-linear in that regime.

    Twin: n docs, EVERY doc opens with the same 6-word boilerplate
    prefix (=> 4 corpus-wide shared 3-shingles) followed by a unique
    4-token tail.  The md5 split puts ~80% train / ~10% test, so the
    flat join mass is ~4 * 0.8n * 0.1n = 0.32 n^2.  The flat shape is
    timed while runnable and recorded analytically where it is not;
    the factored shape runs everywhere; identity is asserted wherever
    both complete (and is separately property-tested + forced at the
    gate SF in tests/test_decon_factored.py)."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import curation, switches

    spark = get_spark(
        app_name="measure_scaling_decon",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def build(n: int) -> str:
        twin = os.path.join(SKEW_DIR, f"decon_boiler_{n}")
        marker = os.path.join(twin, "_BUILT_v1")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            uid = F.col("doc_id").cast("string")
            spark.range(n).withColumnRenamed("id", "doc_id").select(
                "doc_id",
                F.concat_ws(
                    " ",
                    F.lit("common license header boiler plate text"),
                    F.concat(F.lit("u"), uid, F.lit("a")),
                    F.concat(F.lit("u"), uid, F.lit("b")),
                    F.concat(F.lit("u"), uid, F.lit("c")),
                    F.concat(F.lit("u"), uid, F.lit("d")),
                ).alias("text"),
                F.lit("en").alias("lang"),
                F.lit("twin").alias("source"),
                F.lit(100).cast("long").alias("n_chars"),
            ).repartition(spark.sparkContext.defaultParallelism).write.mode(
                "overwrite"
            ).parquet(os.path.join(twin, "documents.parquet"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    for qname in ("curation_decontaminate", "curation_contamination_report"):
        for n in (20_000, 40_000, 160_000, 640_000, 1_280_000):
            twin = build(n)
            switches.probe_cache_clear()
            tagged = curation._split_tagged_shingles(spark, twin)
            flat_mass = curation._decon_flat_pairs(
                tagged.filter(F.col("split") == "train").select(
                    "doc_id", "shingle"
                ),
                tagged.filter(F.col("split") == "test").select(
                    F.col("doc_id").alias("test_doc_id"), "shingle"
                ),
            )
            rec = {"micro": "decon_factored_xl", "round": 10, "query": qname,
                   "docs": n, "flat_join_rows": flat_mass}
            t0 = time.perf_counter()
            rec["out_rows"] = qs[qname].fn(spark, twin).count()
            rec["wall_sec"] = round(time.perf_counter() - t0, 3)
            rec["strategy"] = (
                "factored" if flat_mass > switches.DECON_FLAT_PAIRS_MAX
                else "flat"
            )
            if rec["strategy"] == "factored" and flat_mass <= 6e8:
                # time the retired flat shape where it still completes,
                # and assert identity on real output
                old = switches.DECON_FLAT_PAIRS_MAX
                try:
                    switches.DECON_FLAT_PAIRS_MAX = 1 << 62
                    t0 = time.perf_counter()
                    flat_rows = sorted(
                        tuple(r) for r in qs[qname].fn(spark, twin).collect()
                    )
                    rec["flat_wall_sec"] = round(time.perf_counter() - t0, 3)
                finally:
                    switches.DECON_FLAT_PAIRS_MAX = old
                fact_rows = sorted(
                    tuple(r) for r in qs[qname].fn(spark, twin).collect()
                )
                rec["identical"] = flat_rows == fact_rows
            elif rec["strategy"] == "factored":
                rec["flat_wall_sec"] = None
                rec["note"] = (f"flat shape not run: {flat_mass:.1e} join "
                               "rows through ~4 unsplittable shingle keys "
                               "is the measured DNF class")
            else:
                # below threshold the registered query KEEPS the flat
                # plan — time the factored spelling too and assert
                # identity, so the record shows the probe routes BOTH
                # directions (cheap regime stays flat, costly regime
                # escapes)
                old = switches.DECON_FLAT_PAIRS_MAX
                try:
                    switches.DECON_FLAT_PAIRS_MAX = -1
                    switches.probe_cache_clear()
                    t0 = time.perf_counter()
                    fact_rows = sorted(
                        tuple(r) for r in qs[qname].fn(spark, twin).collect()
                    )
                    rec["factored_wall_sec"] = round(
                        time.perf_counter() - t0, 3
                    )
                finally:
                    switches.DECON_FLAT_PAIRS_MAX = old
                    switches.probe_cache_clear()
                flat_rows = sorted(
                    tuple(r) for r in qs[qname].fn(spark, twin).collect()
                )
                rec["identical"] = flat_rows == fact_rows
            print(json.dumps(rec), flush=True)
    spark.stop()


def main_pack_micro() -> None:
    """r10 scale-killer #8: curation_pack_sequences' fixed 32-shard
    running sum sorts rows/32 per window task — unbounded as the corpus
    grows — and an id-stride corpus (doc_id all equal mod 32, e.g. ids
    minted by an upstream 32-way sharder) serializes the WHOLE table
    through ONE WindowExec task.  The chunked split-and-stitch spelling
    bounds every window partition by the doc_id chunk width.

    Twins (tiny fixed text so the token count never dominates):
    - pack_uniform: n docs, contiguous ids — every shard holds n/32.
    - pack_stride:  n docs, ids = 32*i — ONE shard holds all n rows.
    Flat and chunked are timed PAIRED (same session, interleaved,
    min-of-N) on both twins; identity asserted at the smallest size."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import curation, switches

    spark = get_spark(
        app_name="measure_scaling_pack",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def build(n: int, stride: int, tag: str) -> str:
        twin = os.path.join(SKEW_DIR, f"pack_{tag}_{n}")
        marker = os.path.join(twin, "_BUILT_v1")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            spark.range(n).select(
                (F.col("id") * stride).alias("doc_id"),
                F.concat(
                    F.lit("alpha beta gamma delta x"),
                    (F.col("id") % 7).cast("string"),
                ).alias("text"),
                F.lit("en").alias("lang"),
                F.lit("twin").alias("source"),
                F.lit(25).cast("long").alias("n_chars"),
            ).repartition(spark.sparkContext.defaultParallelism).write.mode(
                "overwrite"
            ).parquet(os.path.join(twin, "documents.parquet"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    def narrow(sf_dir: str):
        from osm2orc_spark.tables import load

        return load(spark, sf_dir, "documents").select(
            "doc_id",
            (F.col("doc_id") % curation.PACK_SHARDS).alias("shard"),
            F.size(
                F.split(
                    F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
                )
            )
            .cast("bigint")
            .alias("n_tokens"),
        )

    passes = int(os.environ.get("PACK_PASSES", "5"))
    for tag, stride in (("uniform", 1), ("stride", 32)):
        for n in (3_200_000, 12_800_000):
            twin = build(n, stride, tag)
            switches.probe_cache_clear()
            docs = narrow(twin)
            # noop write, NOT count(): count() lets Catalyst prune the
            # window entirely (it never changes cardinality), timing an
            # empty plan — the first run of this micro recorded 0.13 s
            # "flat" walls for a 12.8M-row single-task sort that way.
            shapes = {
                "flat": lambda: curation._pack_sequences_flat(docs)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "chunked": lambda: curation._pack_sequences_chunked(docs)
                .write.format("noop")
                .mode("overwrite")
                .save(),
            }
            walls: dict[str, list[float]] = {k: [] for k in shapes}
            for fn in shapes.values():
                fn()  # warm
            for _ in range(passes):
                for k, fn in shapes.items():  # interleaved: same load regime
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    fn()
                    walls[k].append(time.perf_counter() - t0)
            hot_rows = switches.cached_probe(
                twin,
                "pack_max_shard_rows",
                lambda: docs.groupBy("shard")
                .count()
                .agg(F.max("count"))
                .first()[0]
                or 0,
            )
            rec = {
                "micro": "pack_chunked_xl", "round": 10, "twin": tag,
                "docs": n, "max_shard_rows": hot_rows, "passes": passes,
                "protocol": "same-session interleaved min-of-%d" % passes,
                "flat_wall_sec": round(min(walls["flat"]), 3),
                "chunked_wall_sec": round(min(walls["chunked"]), 3),
                "registered_strategy": (
                    "chunked" if hot_rows > switches.HOT_KEY_ROWS else "flat"
                ),
            }
            if n == 3_200_000:
                a = sorted(
                    tuple(r)
                    for r in curation._pack_sequences_flat(docs).collect()
                )
                b = sorted(
                    tuple(r)
                    for r in curation._pack_sequences_chunked(docs).collect()
                )
                rec["identical"] = a == b
            print(json.dumps(rec), flush=True)

    # corpus_shuffle_shards (r10 scale-killer #9): N_SHUFFLE_SHARDS = 8,
    # so the flat rank sorts rows/8 per window task regardless of id
    # layout — the uniform twin alone exhibits it (the md5 hkey ignores
    # id strides).  Same paired protocol.
    def hframe(sf_dir: str):
        from osm2orc_spark.tables import load

        hk = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        return load(spark, sf_dir, "documents").select(
            "doc_id", "source", hk.alias("hkey")
        )

    for n in (3_200_000, 12_800_000):
        twin = build(n, 1, "uniform")
        h = hframe(twin)
        shapes = {
            "flat": lambda: curation._shuffle_shards_flat(h)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            "chunked": lambda: curation._shuffle_shards_chunked(h, n)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        }
        walls = {k: [] for k in shapes}
        for fn in shapes.values():
            fn()
        for _ in range(passes):
            for k, fn in shapes.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn()
                walls[k].append(time.perf_counter() - t0)
        rec = {
            "micro": "shuffle_chunked_xl", "round": 10, "docs": n,
            "rows_per_shard": n // 8, "passes": passes,
            "chunk_shift": curation._shuffle_shard_shift(n),
            "protocol": "same-session interleaved min-of-%d" % passes,
            "flat_wall_sec": round(min(walls["flat"]), 3),
            "chunked_wall_sec": round(min(walls["chunked"]), 3),
            "registered_strategy": (
                "chunked"
                if n > switches.HOT_KEY_ROWS * curation.N_SHUFFLE_SHARDS
                else "flat"
            ),
        }
        if n == 3_200_000:
            a = sorted(
                tuple(r) for r in curation._shuffle_shards_flat(h).collect()
            )
            b = sorted(
                tuple(r)
                for r in curation._shuffle_shards_chunked(h, n).collect()
            )
            rec["identical"] = a == b
        print(json.dumps(rec), flush=True)
    spark.stop()


def main_streaming_micro() -> None:
    """Measure the Structured Streaming surface on the 40x XL event
    twins (4M rows; xl_hot holds 2M rows on ONE user) — the one runtime
    surface with no recorded throughput/skew number before this micro:

    - stream_hourly_rollup: watermarked shuffle agg (keys independent of
      the hot user — the throughput baseline);
    - stream_session_windows: session_window keyed BY user_id — the hot
      key funnels half the stream into one state key;
    - stream_transitions: applyInPandasWithState custom stateful
      operator, also keyed by user_id.

    Each query runs 1 warm + XL_PASSES timed passes per twin with the
    default maxFilesPerTrigger=1 (32 parquet files -> 32 micro-batches,
    so per-batch state mechanics are actually exercised, not one giant
    batch).  Records wall min, rows/s, and the xl_hot/xl_base skew
    ratio."""
    spark = get_spark(
        app_name="measure_scaling_streaming",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dirs = _build_xl_data(spark)
    qs = all_queries()
    n_rows = {
        m: spark.read.parquet(os.path.join(dirs[m], "events.parquet")).count()
        for m in ("xl_base", "xl_hot")
    }
    only = {q for q in os.environ.get("STREAMING_ONLY", "").split(",") if q}
    passes = int(os.environ.get("STREAMING_PASSES", str(XL_PASSES)))
    for name in (
        "stream_hourly_rollup",
        "stream_session_windows",
        "stream_transitions",
    ):
        if only and name not in only:
            continue
        rec: dict = {"micro": "streaming_xl", "round": 9, "query": name,
                     "xl_rep": XL_REP}
        walls = {}
        for mode in ("xl_base", "xl_hot"):
            best = float("inf")
            for i in range(passes + 1):  # first pass warms
                t0 = time.perf_counter()
                out = qs[name].fn(spark, dirs[mode])
                n_out = out.count()
                if i > 0:
                    best = min(best, time.perf_counter() - t0)
            walls[mode] = best
            rec[f"{mode}_wall_min_sec"] = round(best, 3)
            rec[f"{mode}_rows_per_sec"] = round(n_rows[mode] / best)
            rec[f"{mode}_out_rows"] = n_out
        rec["skew_ratio"] = round(walls["xl_hot"] / walls["xl_base"], 2)
        print(json.dumps(rec), flush=True)
    spark.stop()


def main_streaming_rocksdb() -> None:
    """r10 (r9 verdict #5): the RocksDB state store was posture-only — a
    conf helper (streaming/events.py rocksdb_state_conf) with no recorded
    number.  This micro re-runs the stateful streaming XL lines under the
    RocksDB provider on the 4M-row twins: stream_dedup_events (the
    4M-key dropDuplicatesWithinWatermark — the largest state any
    registered stream carries), stream_session_windows (session-window
    state keyed by user_id, hot key funnels half the stream into one
    key), and stream_transitions (applyInPandasWithState).  Each query
    also re-runs on the default HDFS-backed store IN THE SAME SESSION so
    the backend delta is paired, not cross-session.  Records rows/s and
    the xl_hot/xl_base skew ratio per backend."""
    from osm2orc_spark.streaming.events import rocksdb_state_conf

    spark = get_spark(
        app_name="measure_scaling_rocksdb",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dirs = _build_xl_data(spark)
    qs = all_queries()
    n_rows = {
        m: spark.read.parquet(os.path.join(dirs[m], "events.parquet")).count()
        for m in ("xl_base", "xl_hot")
    }
    only = {q for q in os.environ.get("STREAMING_ONLY", "").split(",") if q}
    passes = int(os.environ.get("STREAMING_PASSES", str(XL_PASSES)))
    rocks = rocksdb_state_conf()
    for name in (
        "stream_dedup_events",
        "stream_session_windows",
        "stream_transitions",
    ):
        if only and name not in only:
            continue
        for backend, conf in (("hdfs_default", {}), ("rocksdb", rocks)):
            for k, v in conf.items():
                spark.conf.set(k, v)
            try:
                rec: dict = {"micro": "streaming_xl_rocksdb", "round": 10,
                             "query": name, "backend": backend,
                             "xl_rep": XL_REP}
                walls = {}
                for mode in ("xl_base", "xl_hot"):
                    best = float("inf")
                    n_out = 0
                    for i in range(passes + 1):  # first pass warms
                        t0 = time.perf_counter()
                        n_out = qs[name].fn(spark, dirs[mode]).count()
                        if i > 0:
                            best = min(best, time.perf_counter() - t0)
                    walls[mode] = best
                    rec[f"{mode}_wall_min_sec"] = round(best, 3)
                    rec[f"{mode}_rows_per_sec"] = round(n_rows[mode] / best)
                    rec[f"{mode}_out_rows"] = n_out
                rec["skew_ratio"] = round(walls["xl_hot"] / walls["xl_base"], 2)
                print(json.dumps(rec), flush=True)
            finally:
                for k in conf:
                    spark.conf.unset(k)
    spark.stop()


def main_trigger_scaling() -> None:
    """Trigger-width scaling for the streaming paths (r8 verdict #6):
    the streaming_xl walls at maxFilesPerTrigger=1 price PER-MICRO-BATCH
    fixed overhead (32 files -> 32 batches), not engine throughput.
    This micro re-runs the watermarked shuffle agg (hourly rollup, the
    r8 line) AND the applyInPandasWithState stateful kernel
    (transitions) over the 4M-row xl_base twin at mFPT 1/8/32, one
    timed pass after warm each, recording where the Arrow-batched
    stateful path saturates."""
    from pyspark.sql import functions as F

    from osm2orc_spark.streaming.events import (
        hourly_rollup_stream,
        read_events_stream,
        run_to_memory,
        transitions_stream,
    )

    spark = get_spark(
        app_name="measure_scaling_trigger",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dirs = _build_xl_data(spark)
    path = os.path.join(dirs["xl_base"], "events.parquet")
    n_rows = spark.read.parquet(path).count()

    def rollup(mfpt: int, tag: str):
        ev = read_events_stream(spark, path, max_files_per_trigger=mfpt)
        return run_to_memory(hourly_rollup_stream(ev), f"trig_roll_{tag}")

    def transitions(mfpt: int, tag: str):
        ev = read_events_stream(spark, path, max_files_per_trigger=mfpt)
        steps = run_to_memory(
            transitions_stream(ev), f"trig_trans_{tag}", output_mode="update"
        )
        return steps.groupBy("from_type", "to_type").agg(
            F.count(F.lit(1)).alias("n")
        )

    for qname, builder in (("stream_hourly_rollup", rollup),
                           ("stream_transitions", transitions)):
        rec: dict = {"micro": "streaming_trigger_scaling", "round": 9,
                     "query": qname, "xl_rep": XL_REP, "rows": n_rows}
        for mfpt in (1, 8, 32):
            wall = None
            for i in range(2):  # warm + timed
                t0 = time.perf_counter()
                builder(mfpt, f"{qname}_{mfpt}_{i}").count()
                wall = time.perf_counter() - t0
            rec[f"mfpt{mfpt}_wall_sec"] = round(wall, 3)
            rec[f"mfpt{mfpt}_rows_per_sec"] = round(n_rows / wall)
        print(json.dumps(rec), flush=True)
    spark.stop()


def main_components_micro() -> None:
    """Measure dedup_components' two physical strategies on the 40x XL
    twins: the default measured-edge-count switch (bounded driver
    union-find under CC_COLLECT_MAX_EDGES) vs the FORCED distributed
    min-label fixpoint (dedup.CC_COLLECT_MAX_EDGES = -1 while the plan
    builds, local checkpoint) — the 100 TB path, which until this micro
    had only sf0.01 identity tests.  Records walls (min-of-2 after
    warm-up), row counts, and set identity between the strategies on
    each twin."""
    from osm2orc_spark.operators import dedup

    default_cap = dedup.CC_COLLECT_MAX_EDGES

    def build(sf_dir: str, cap: int):
        # the strategy is picked while the plan builds, so the constant
        # only needs to hold for the call
        dedup.CC_COLLECT_MAX_EDGES = cap
        try:
            return dedup.dedup_components(spark, sf_dir)
        finally:
            dedup.CC_COLLECT_MAX_EDGES = default_cap

    spark = get_spark(
        app_name="measure_scaling_components",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    dirs = _build_xl_data(spark)
    for mode in ("xl_base", "xl_hot"):
        rec: dict = {"micro": "components_strategies_xl", "round": 9,
                     "mode": mode, "xl_rep": XL_REP}
        for tag, cap in (("unionfind", default_cap), ("fixpoint", -1)):
            walls = []
            for _ in range(XL_PASSES + 1):  # first pass warms
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                build(dirs[mode], cap).write.format(
                    "noop"
                ).mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            rec[f"{tag}_wall_min_sec"] = round(min(walls[1:]), 3)
        spark.catalog.clearCache()
        uf = build(dirs[mode], default_cap)
        fx = build(dirs[mode], -1)
        n_uf, n_fx = uf.count(), fx.count()
        n_match = uf.join(fx, ["doc_id", "component"]).count()
        rec["rows"] = n_uf
        rec["identical"] = bool(n_uf == n_fx == n_match)
        print(json.dumps(rec), flush=True)
    spark.stop()


def _timed(spark, fn, sf_dir: str, passes: int = PASSES) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    spark.catalog.clearCache()
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return best


def main_skew() -> None:
    spark = get_spark(
        app_name="measure_scaling_skew",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    dirs = _build_skew_data(spark)
    qs = all_queries()
    results: dict[str, dict] = {}
    for name, mode in SKEW_QUERIES:
        fn = qs[name].fn
        base = _timed(spark, fn, BASE_SF)
        skew = _timed(spark, fn, dirs[mode])
        rec = {
            "mode": mode,
            "base_sec": round(base, 3),
            "skew_sec": round(skew, 3),
            "skew_ratio": round(skew / base, 2),
        }
        results[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
    worst = max(results.items(), key=lambda kv: kv[1]["skew_ratio"])
    print(
        json.dumps(
            {
                "summary": "hot-key skew wall ratios (skew/base at sf0.1)",
                "queries": {k: v["skew_ratio"] for k, v in results.items()},
                "worst": {"query": worst[0], **worst[1]},
            }
        ),
        flush=True,
    )
    spark.stop()


def main_burst_micro() -> None:
    """r10: the time-chunked window family's documented residual — time
    chunking bounds per-task rows by peak RATE, not volume, so a key
    emitting its whole history inside ONE default chunk (1 h) still
    serializes that chunk through one window task.  burst_chunk_ms
    probes the peak (key, chunk) occupancy and shrinks the width until
    it fits the per-task bar; output is width-invariant, so the probe is
    pure cost.

    Twin: n rows for ONE user spread uniformly over ONE hour (the burst)
    + n background rows over 512 users / 430 hours.  The chunked
    sessionize core is timed PAIRED at the fixed default width vs the
    adaptive width; identity asserted at the smaller size."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import switches
    from osm2orc_spark.queries import relational
    from osm2orc_spark.tables import load

    spark = get_spark(
        app_name="measure_scaling_burst",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("BURST_PASSES", "5"))

    def build(n: int) -> str:
        twin = os.path.join(SKEW_DIR, f"burst_{n}")
        marker = os.path.join(twin, "_BUILT_v1")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            par = spark.sparkContext.defaultParallelism
            hour0 = F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            burst = spark.range(n).select(
                F.col("id").alias("event_id"),
                # n rows uniformly inside ONE hour: worst case for the
                # fixed width, splittable by any narrower width
                (
                    hour0
                    + F.make_interval(
                        secs=(F.col("id") % 3600)
                        + (F.col("id") % 997) / F.lit(1000.0)
                    )
                ).alias("ts"),
                F.lit(HOT_USER_ID).cast("long").alias("user_id"),
                F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                (F.col("id") % 100).cast("double").alias("value"),
                F.lit("{}").alias("props"),
            )
            bg = spark.range(n).select(
                (F.col("id") + n).alias("event_id"),
                (
                    hour0
                    + F.make_interval(secs=(F.col("id") % 1_550_000).cast("int"))
                ).alias("ts"),
                (F.col("id") % 512).cast("long").alias("user_id"),
                F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                (F.col("id") % 100).cast("double").alias("value"),
                F.lit("{}").alias("props"),
            )
            burst.unionByName(bg).repartition(par).write.mode(
                "overwrite"
            ).parquet(os.path.join(twin, "events.parquet"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for n in (800_000, 3_200_000):
        twin = build(n)
        switches.probe_cache_clear()
        ev = load(spark, twin, "events").filter(F.col("user_id").isNotNull())
        adaptive = switches.burst_chunk_ms(spark, twin, 3_600_000)
        shapes = {
            "fixed_1h": lambda: noop(
                relational.sessionize_events_chunked(spark, twin, 3_600_000, ev=ev)
            ),
            "adaptive": lambda: noop(
                relational.sessionize_events_chunked(spark, twin, adaptive, ev=ev)
            ),
        }
        walls: dict[str, list[float]] = {k: [] for k in shapes}
        for fn in shapes.values():
            fn()  # warm
        for _ in range(passes):
            for k, fn in shapes.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn()
                walls[k].append(time.perf_counter() - t0)
        rec = {
            "micro": "burst_chunk_xl", "round": 10, "burst_rows": n,
            "total_rows": 2 * n, "passes": passes,
            "adaptive_chunk_ms": adaptive,
            "peak_default": switches.peak_chunk_rows(spark, twin, 3_600_000),
            "peak_adaptive": switches.peak_chunk_rows(spark, twin, adaptive),
            "protocol": "same-session interleaved min-of-%d" % passes,
            "fixed_wall_sec": round(min(walls["fixed_1h"]), 3),
            "adaptive_wall_sec": round(min(walls["adaptive"]), 3),
        }
        if n == 800_000:
            a = sorted(
                tuple(r)
                for r in relational.sessionize_events_chunked(
                    spark, twin, 3_600_000, ev=ev
                ).collect()
            )
            b = sorted(
                tuple(r)
                for r in relational.sessionize_events_chunked(
                    spark, twin, adaptive, ev=ev
                ).collect()
            )
            rec["identical"] = a == b
        print(json.dumps(rec), flush=True)
    spark.stop()


def main_rolling_micro() -> None:
    """r10 scale-killer #12: rolling_hour_user_activity's per-user RANGE
    frame is the same lifetime-volume straggler as the seven-query
    window family (one task sorts + slides the hot key's whole history).
    The ghost-replication chunked core bounds per-task rows by two
    chunks' peak occupancy.

    Twin: ONE user with n rows spread uniformly over `hours` + n
    background rows over 512 users.  Two regimes:
    - slide-dominated (800k rows / 431 h -> ~1.9k rows per frame):
      Spark's SlidingWindowFunctionFrame re-scans the frame per output
      row, so the flat single-task cost is Theta(n x frame occupancy) —
      at 3.2M rows this measured >20 min single-task (killed; the DNF
      class itself), which is why the flat side is sized down;
    - sort-dominated (3.2M rows / 43,100 h -> ~75 rows per frame): the
      straggler is the per-key sort, the family's usual shape.
    Flat and ghost-chunked are timed PAIRED; identity asserted at the
    smaller size.  The burst-inside-one-frame case is NOT measured here
    because it is frame semantics, not a split artifact (see the
    core's docstring)."""
    from pyspark.sql import functions as F

    from osm2orc_spark.queries import advanced
    from osm2orc_spark.tables import load

    spark = get_spark(
        app_name="measure_scaling_rolling",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("ROLLING_PASSES", "3"))

    def build(n: int, span_s: int, tag: str) -> str:
        twin = os.path.join(SKEW_DIR, f"rollvol_{tag}_{n}")
        marker = os.path.join(twin, "_BUILT_v2")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            par = spark.sparkContext.defaultParallelism
            hour0 = F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            hot = spark.range(n).select(
                F.col("id").alias("event_id"),
                (
                    hour0
                    + F.make_interval(secs=(F.col("id") % span_s).cast("int"))
                ).alias("ts"),
                F.lit(HOT_USER_ID).cast("long").alias("user_id"),
                F.lit("view").alias("event_type"),
                (F.col("id") % 100).cast("double").alias("value"),
                F.lit("{}").alias("props"),
            )
            bg = spark.range(n).select(
                (F.col("id") + n).alias("event_id"),
                (
                    hour0
                    + F.make_interval(
                        secs=((F.col("id") * 7) % span_s).cast("int")
                    )
                ).alias("ts"),
                (F.col("id") % 512).cast("long").alias("user_id"),
                F.lit("view").alias("event_type"),
                (F.col("id") % 100).cast("double").alias("value"),
                F.lit("{}").alias("props"),
            )
            hot.unionByName(bg).repartition(par).write.mode(
                "overwrite"
            ).parquet(os.path.join(twin, "events.parquet"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for n, span_s, tag in (
        (800_000, 1_550_000, "slide"),
        (3_200_000, 155_000_000, "sort"),
    ):
        twin = build(n, span_s, tag)
        ev = load(spark, twin, "events").filter(F.col("user_id").isNotNull())
        shapes = {
            "flat": lambda: noop(advanced._rolling_hour_window_core(ev)),
            "ghost": lambda: noop(advanced._rolling_hour_chunked_core(ev)),
        }
        walls: dict[str, list[float]] = {k: [] for k in shapes}
        for fn in shapes.values():
            fn()  # warm
        for _ in range(passes):
            for k, fn in shapes.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn()
                walls[k].append(time.perf_counter() - t0)
        rec = {
            "micro": "rolling_range_xl", "round": 10, "regime": tag,
            "hot_rows": n, "total_rows": 2 * n,
            "hot_hours": span_s // 3600, "passes": passes,
            "protocol": "same-session interleaved min-of-%d" % passes,
            "flat_wall_sec": round(min(walls["flat"]), 3),
            "ghost_wall_sec": round(min(walls["ghost"]), 3),
        }
        if n == 800_000:
            a = sorted(
                tuple(r)
                for r in advanced._rolling_hour_window_core(ev).collect()
            )
            b = sorted(
                tuple(r)
                for r in advanced._rolling_hour_chunked_core(ev).collect()
            )
            rec["identical"] = a == b
        print(json.dumps(rec), flush=True)
    spark.stop()


def main_dim_windows() -> None:
    """r10 scale-killer #11: customer_rfm_segments' three global NTILE
    sorts and part_abc_pareto's global running-share sort run
    UNPARTITIONED over one row per customer / part — dimensions that
    grow linearly with SF — so each is a rows/1-per-task WindowExec
    straggler.  The ranged_two_level spelling bounds every window task
    at ~n/nparts rows.

    Twins maximize TIE stress (the range partitioner must split tie
    groups via the unique-key tie-break): one order per customer
    (frequency all ties), 365 recency values, 1009 monetary values;
    997 distinct part revenues.  Flat and ranged are timed PAIRED
    (same session, interleaved, min-of-N) with noop writes; identity
    asserted at the smallest size."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import switches
    from osm2orc_spark.queries import advanced
    from osm2orc_spark.tables import load

    spark = get_spark(
        app_name="measure_scaling_dimw",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("DIMW_PASSES", "5"))

    def build(n: int) -> str:
        twin = os.path.join(SKEW_DIR, f"dimw_{n}")
        marker = os.path.join(twin, "_BUILT_v1")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            par = spark.sparkContext.defaultParallelism
            spark.range(n).select(
                F.col("id").alias("o_orderkey"),
                F.col("id").alias("o_custkey"),
                F.lit("O").alias("o_orderstatus"),
                ((F.col("id") % 1009) + 1).cast("double").alias("o_totalprice"),
                (
                    F.to_timestamp(F.lit("2024-01-01"))
                    + F.make_interval(days=(F.col("id") % 365).cast("int"))
                ).alias("o_orderdate"),
                F.lit("3-MEDIUM").alias("o_orderpriority"),
            ).repartition(par).write.mode("overwrite").parquet(
                os.path.join(twin, "orders.parquet")
            )
            spark.range(n).select(
                F.col("id").alias("l_orderkey"),
                F.col("id").alias("l_partkey"),
                F.lit(1).cast("long").alias("l_suppkey"),
                F.lit(1).cast("int").alias("l_linenumber"),
                F.lit(1.0).alias("l_quantity"),
                ((F.col("id") % 997) + 1).cast("double").alias("l_extendedprice"),
                F.lit(0.05).alias("l_discount"),
                F.lit(0.0).alias("l_tax"),
                F.lit("N").alias("l_returnflag"),
                F.lit("O").alias("l_linestatus"),
                F.to_timestamp(F.lit("2024-06-01")).alias("l_shipdate"),
            ).repartition(par).write.mode("overwrite").parquet(
                os.path.join(twin, "lineitem.parquet")
            )
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    def rev_frame(twin: str):
        li = load(spark, twin, "lineitem")
        return li.groupBy(F.col("l_partkey").alias("partkey")).agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("revenue")
        )

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for n in (3_200_000, 12_800_000):
        twin = build(n)
        switches.probe_cache_clear()
        shapes_by_query = {
            "part_abc_pareto": {
                "flat": lambda: noop(advanced._pareto_flat(rev_frame(twin))),
                "ranged": lambda: noop(
                    advanced._pareto_ranged(spark, twin, rev_frame(twin))
                ),
            },
            "customer_rfm_segments": {
                "flat": lambda: noop(
                    advanced._rfm_flat(advanced._rfm_base(spark, twin))
                ),
                "ranged": lambda: noop(
                    advanced._rfm_ranged(
                        spark, twin, advanced._rfm_base(spark, twin)
                    )
                ),
            },
        }
        for qname, shapes in shapes_by_query.items():
            # the ranged probe (part table rows) is absent in the twin —
            # nparts derives from the lineitem/orders row count instead
            switches._PROBE_CACHE[switches._cache_key(twin, "table_rows:part")] = n
            walls: dict[str, list[float]] = {k: [] for k in shapes}
            for fn in shapes.values():
                fn()  # warm
            for _ in range(passes):
                for k, fn in shapes.items():
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    fn()
                    walls[k].append(time.perf_counter() - t0)
            rec = {
                "micro": "dim_window_xl", "round": 10, "query": qname,
                "dim_rows": n, "passes": passes,
                "nparts": switches.dim_window_nparts(n),
                "protocol": "same-session interleaved min-of-%d" % passes,
                "flat_wall_sec": round(min(walls["flat"]), 3),
                "ranged_wall_sec": round(min(walls["ranged"]), 3),
                "registered_strategy": (
                    "ranged" if n > switches.DIM_WINDOW_ROWS_MAX else "flat"
                ),
            }
            if n == 3_200_000:
                if qname == "part_abc_pareto":
                    a = sorted(
                        tuple(r)
                        for r in advanced._pareto_flat(rev_frame(twin)).collect()
                    )
                    b = sorted(
                        tuple(r)
                        for r in advanced._pareto_ranged(
                            spark, twin, rev_frame(twin)
                        ).collect()
                    )
                else:
                    a = sorted(
                        tuple(r)
                        for r in advanced._rfm_flat(
                            advanced._rfm_base(spark, twin)
                        ).collect()
                    )
                    b = sorted(
                        tuple(r)
                        for r in advanced._rfm_ranged(
                            spark, twin, advanced._rfm_base(spark, twin)
                        ).collect()
                    )
                rec["identical"] = a == b
            print(json.dumps(rec), flush=True)

    spark.stop()


def main_pct_micro() -> None:
    """r10 scale-killer #13: exact Percentile's reducer is bounded by the
    per-type DISTINCT-value cardinality (the value->count map merges
    map-side).  Two regimes:
    - lowcard: 100k distinct bucketed values — tiny maps, the FLAT plan
      wins (measured 1.4-1.6x) and the distinct probe keeps it;
    - distinct: every value unique (continuous doubles) — the reducer
      map is rows/|types| entries, the linear-memory cliff; the probe
      routes the grouped order-statistic spelling.
    Identity asserted at the smaller size in both regimes."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import switches
    from osm2orc_spark.queries import advanced
    from osm2orc_spark.tables import load

    spark = get_spark(
        app_name="measure_scaling_pct",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("PCT_PASSES", "3"))

    def build_events(n: int, distinct: bool) -> str:
        tag = "distinct" if distinct else "lowcard"
        twin = os.path.join(SKEW_DIR, f"pctev_{tag}_{n}")
        marker = os.path.join(twin, "_BUILT_v2")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            par = spark.sparkContext.defaultParallelism
            hour0 = F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            value = (
                (F.col("id") * F.lit(1.0000001) + F.lit(0.25))
                if distinct
                else ((F.col("id") * 7919) % 100003).cast("double")
            )
            spark.range(n).select(
                F.col("id").alias("event_id"),
                (
                    hour0
                    + F.make_interval(secs=(F.col("id") % 1_000_000).cast("int"))
                ).alias("ts"),
                (F.col("id") % 65536).cast("long").alias("user_id"),
                F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                value.alias("value"),
                F.lit("{}").alias("props"),
            ).repartition(par).write.mode("overwrite").parquet(
                os.path.join(twin, "events.parquet")
            )
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for distinct in (False, True):
        for n in (3_200_000, 12_800_000):
            twin = build_events(n, distinct)
            switches.probe_cache_clear()
            ev = load(spark, twin, "events")
            max_dist = advanced._pct_max_type_distinct(spark, twin)
            shapes = {
                "flat": lambda: noop(advanced._percentiles_flat(ev)),
                "ranged": lambda: noop(
                    advanced._percentiles_ranged(spark, twin, ev)
                ),
            }
            walls = {k: [] for k in shapes}
            for fn in shapes.values():
                fn()
            for _ in range(passes):
                for k, fn in shapes.items():
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    fn()
                    walls[k].append(time.perf_counter() - t0)
            rec = {
                "micro": "pct_exact_xl", "round": 10,
                "regime": "distinct" if distinct else "lowcard",
                "rows": n, "types": 5, "max_type_distinct": max_dist,
                "passes": passes,
                "protocol": "same-session interleaved min-of-%d" % passes,
                "flat_wall_sec": round(min(walls["flat"]), 3),
                "ranged_wall_sec": round(min(walls["ranged"]), 3),
                "registered_strategy": (
                    "ranged"
                    if n > switches.DIM_WINDOW_ROWS_MAX
                    and max_dist > switches.DIM_WINDOW_ROWS_MAX
                    else "flat"
                ),
            }
            if n == 3_200_000:
                a = sorted(
                    tuple(r) for r in advanced._percentiles_flat(ev).collect()
                )
                b = sorted(
                    tuple(r)
                    for r in advanced._percentiles_ranged(
                        spark, twin, ev
                    ).collect()
                )
                rec["identical"] = a == b
            print(json.dumps(rec), flush=True)
    spark.stop()


def main() -> None:
    spark = get_spark(
        app_name="measure_scaling",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = all_queries()
    results: dict[str, dict[str, float]] = {}
    for name in QUERIES:
        fn = qs[name].fn
        walls: dict[str, float] = {}
        for sf_dir in SFS:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            spark.catalog.clearCache()
            best = float("inf")
            for _ in range(PASSES):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                spark.catalog.clearCache()
            walls[sf_dir.rsplit("sf", 1)[-1]] = round(best, 3)
        ratio = round(walls["0.1"] / walls["0.01"], 2)
        results[name] = {**walls, "ratio_10x": ratio}
        print(json.dumps({"query": name, **results[name]}), flush=True)
    worst = max(results.items(), key=lambda kv: kv[1]["ratio_10x"])
    print(
        json.dumps(
            {
                "summary": "10x-step wall ratios",
                "queries": {k: v["ratio_10x"] for k, v in results.items()},
                "worst": {"query": worst[0], **worst[1]},
            }
        ),
        flush=True,
    )
    spark.stop()


def main_registered_dimw() -> None:
    """r10 verdict #4: registered-ENTRY XL lines for the dim-window pair
    at the 12.8M twin — qs[name].fn through the live dispatch, probes
    LIVE (cache cleared, nothing pre-seeded), like registered_xl_r10 did
    for rolling/asof/percentiles.  The twin gains real customer/part
    dimension tables (one key column, n rows) so the registered
    table_rows probes answer from parquet footers exactly as they would
    on driver data."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import switches

    spark = get_spark(
        app_name="measure_scaling_regdimw",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    passes = int(os.environ.get("DIMW_PASSES", "3"))
    n = 12_800_000
    twin = os.path.join(SKEW_DIR, f"dimw_{n}")
    # facts: the same orders/lineitem twins main_dim_windows builds
    if not os.path.exists(os.path.join(twin, "_BUILT_v1")):
        sys.exit("run --dim-windows first to build the dimw_12800000 twin")
    dim_marker = os.path.join(twin, "_BUILT_dims")
    if not os.path.exists(dim_marker):
        par = spark.sparkContext.defaultParallelism
        spark.range(n).select(F.col("id").alias("c_custkey")).repartition(
            par
        ).write.mode("overwrite").parquet(os.path.join(twin, "customer.parquet"))
        spark.range(n).select(F.col("id").alias("p_partkey")).repartition(
            par
        ).write.mode("overwrite").parquet(os.path.join(twin, "part.parquet"))
        with open(dim_marker, "w") as fh:
            fh.write("ok\n")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for qname, probe_table in (
        ("customer_rfm_segments", "customer"),
        ("part_abc_pareto", "part"),
    ):
        switches.probe_cache_clear()
        t0 = time.perf_counter()
        df = qs[qname].fn(spark, twin)  # probes run here, live
        probe_sec = time.perf_counter() - t0
        strategy = (
            "ranged"
            if switches.table_rows(spark, twin, probe_table)
            > switches.DIM_WINDOW_ROWS_MAX
            else "flat"
        )
        noop(df)  # warm
        walls = []
        for _ in range(passes):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            noop(qs[qname].fn(spark, twin))
            walls.append(time.perf_counter() - t0)
        print(
            json.dumps(
                {
                    "micro": "registered_xl_r11",
                    "round": 11,
                    "query": qname,
                    "twin": f"dimw_{n}",
                    "dim_rows": n,
                    "strategy_self_selected": strategy,
                    "probe_plan_sec": round(probe_sec, 3),
                    "registered_wall_sec": round(min(walls), 3),
                    "protocol": f"min-of-{passes} after warm, probes live",
                }
            ),
            flush=True,
        )
    spark.stop()


def main_decon_doubling() -> None:
    """r10 verdict #3: pin the decontamination factored top-end with a
    SAME-SESSION interleaved doubling pair — 1.28M and 2.56M docs,
    min-of-N each, alternating passes so host-load drift hits both
    sizes equally.  Near-linearity = wall ratio <= ~1.3x per 2x docs
    (the r10 record had 69.8 s at 2.56M from separate sessions under
    load, super-linear on its face)."""
    from osm2orc_spark.operators import curation, switches  # noqa: F401

    spark = get_spark(
        app_name="measure_scaling_decondbl",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    passes = int(os.environ.get("DECON_PASSES", "3"))
    sizes = (1_280_000, 2_560_000)
    twins = {}
    from pyspark.sql import functions as F

    def build(n: int) -> str:
        twin = os.path.join(SKEW_DIR, f"decon_boiler_{n}")
        marker = os.path.join(twin, "_BUILT_v1")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            uid = F.col("doc_id").cast("string")
            spark.range(n).withColumnRenamed("id", "doc_id").select(
                "doc_id",
                F.concat_ws(
                    " ",
                    F.lit("common license header boiler plate text"),
                    F.concat(F.lit("u"), uid, F.lit("a")),
                    F.concat(F.lit("u"), uid, F.lit("b")),
                    F.concat(F.lit("u"), uid, F.lit("c")),
                    F.concat(F.lit("u"), uid, F.lit("d")),
                ).alias("text"),
                F.lit("en").alias("lang"),
                F.lit("twin").alias("source"),
                F.lit(100).cast("long").alias("n_chars"),
            ).repartition(spark.sparkContext.defaultParallelism).write.mode(
                "overwrite"
            ).parquet(os.path.join(twin, "documents.parquet"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        return twin

    for n in sizes:
        twins[n] = build(n)
    for qname in ("curation_decontaminate", "curation_contamination_report"):
        switches.probe_cache_clear()
        walls = {n: [] for n in sizes}
        out_rows = {}
        for n in sizes:  # warm both (also runs the probes once)
            out_rows[n] = qs[qname].fn(spark, twins[n]).count()
        for _ in range(passes):
            for n in sizes:  # interleaved: A B A B A B
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                qs[qname].fn(spark, twins[n]).count()
                walls[n].append(time.perf_counter() - t0)
        w1, w2 = min(walls[sizes[0]]), min(walls[sizes[1]])
        print(
            json.dumps(
                {
                    "micro": "decon_doubling_r11",
                    "round": 11,
                    "query": qname,
                    "docs": list(sizes),
                    "out_rows": [out_rows[n] for n in sizes],
                    "wall_sec": [round(w1, 3), round(w2, 3)],
                    "wall_ratio_per_2x_docs": round(w2 / w1, 3),
                    "protocol": f"same-session interleaved min-of-{passes}",
                }
            ),
            flush=True,
        )
    spark.stop()


def _build_xl_embeddings_clustered(spark) -> str:
    """Clusterable XL twin (the regime IVF itself presumes): per-replica
    multiplicative jitter — every replica i scales each dim by a
    deterministic 1 + u(i, dim)/20 with u in [-0.5, 0.5) from
    hash(i, dim) — so replicas cluster TIGHTLY around each of the 2,000
    base vectors (in-cluster cosine ~0.999, cross-cluster decorrelated).
    The sign-salted twin (_build_xl_embeddings) deliberately destroys
    global cluster structure to measure pure scale; THIS twin preserves
    it to measure the hierarchical assignment's pruning in the regime
    it exists for."""
    from pyspark.sql import functions as F

    from osm2orc_spark.tables import load

    mode_dir = os.path.join(SKEW_DIR, f"xl_embc_r{EMB_REP}")
    marker = os.path.join(mode_dir, "_BUILT")
    if os.path.exists(marker):
        return mode_dir
    os.makedirs(mode_dir, exist_ok=True)
    emb = load(spark, BASE_SF, "embeddings")
    rep = emb.select(
        F.explode(F.sequence(F.lit(0), F.lit(EMB_REP - 1))).alias("i"), "*"
    )
    jittered = F.transform(
        "embedding",
        lambda x, idx: x
        * (
            1.0
            + (F.pmod(F.hash(F.col("i"), idx), F.lit(1000)) - 500).cast("float")
            / 20000.0
        ),
    )
    rep.select(
        (F.col("vec_id") * EMB_REP + F.col("i")).alias("vec_id"),
        jittered.alias("embedding"),
        "label",
    ).repartition(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(os.path.join(mode_dir, "embeddings.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return mode_dir


def main_knn_band_micro() -> None:
    """The probe band (KNN_HIER_PRUNE_CELLS_MIN < k <= KNN_HIER_CELLS_MIN):
    real-data demonstration that the visit-fraction probe routes HIER
    inside the band exactly when the corpus is coarse-clustered enough
    for the CENTROID set to cluster.  Twin: 40 base vectors x heavy
    jittered replication (40 coarse clusters) — at k=781/1562 cells each
    cluster holds ~20-40 cells, so the two-level groups align with the
    clusters and pruning fires at in-band k (the 2,000-cluster twin
    only prunes once k > 2,000, which is outside the band)."""
    from pyspark.sql import functions as F

    from osm2orc_spark.operators import ann_index
    from osm2orc_spark.operators.ann_index import (
        KNN_NPROBE,
        AnnIndex,
        ann_knn_join,
    )
    from osm2orc_spark.operators.similarity import IVF_KM_ITERS, _lloyd_fit_ints
    from osm2orc_spark.tables import load

    spark = get_spark(
        app_name="measure_scaling_knn_band",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("KNN_PASSES", "3"))
    n_bases = 40
    for n in (200_000, 400_000):
        rep = n // n_bases
        twin = os.path.join(SKEW_DIR, f"xl_embb_b{n_bases}_r{rep}")
        marker = os.path.join(twin, "_BUILT")
        if not os.path.exists(marker):
            os.makedirs(twin, exist_ok=True)
            emb = load(spark, BASE_SF, "embeddings").filter(
                F.col("vec_id") < n_bases
            )
            r = emb.select(
                F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("i"), "*"
            )
            jittered = F.transform(
                "embedding",
                lambda x, idx: x
                * (
                    1.0
                    + (
                        F.pmod(F.hash(F.col("i"), idx), F.lit(1000)) - 500
                    ).cast("float")
                    / 20000.0
                ),
            )
            r.select(
                (F.col("vec_id") * rep + F.col("i")).alias("vec_id"),
                jittered.alias("embedding"),
                "label",
            ).repartition(spark.sparkContext.defaultParallelism).write.mode(
                "overwrite"
            ).parquet(os.path.join(twin, "embeddings.parquet"))
            with open(marker, "w") as fh:
                fh.write("ok\n")
        k_cents = n // 256
        t0 = time.perf_counter()
        cents = _lloyd_fit_ints(spark, twin, k_cents, IVF_KM_ITERS)
        fit_sec = time.perf_counter() - t0
        cents_l = [list(c) for c in cents]
        idx = AnnIndex(kind="ivf", centroids=tuple(tuple(c) for c in cents))
        hier = ann_index._hier_groups(cents_l)
        visit_frac = ann_index._hier_visit_frac(cents_l, hier, KNN_NPROBE)
        route = (
            "hier" if ann_index._pick_hier(cents_l, KNN_NPROBE) is not None
            else "flat"
        )
        emb = load(spark, twin, "embeddings").select("vec_id", "embedding")
        emb_t = emb.schema["embedding"].dataType.simpleString()
        schema = f"vec_id long, embedding {emb_t}, cid int, probes array<int>"
        assign = {}
        for tag in ("flat", "hier"):
            kern = ann_index._knn_assign_kernel(
                cents_l, KNN_NPROBE, hier if tag == "hier" else None
            )
            walls = []
            for i in range(passes + 1):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                emb.mapInArrow(kern, schema).count()
                walls.append(time.perf_counter() - t0)
            assign[tag] = round(min(walls[1:]), 3)
        walls = []
        n_out = 0
        for i in range(passes + 1):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n_out = ann_knn_join(spark, twin, idx).count()
            walls.append(time.perf_counter() - t0)
        print(
            json.dumps(
                {
                    "micro": "knn_band_xl",
                    "round": 12,
                    "twin": f"coarse{n_bases}",
                    "vectors": n,
                    "k_cents": k_cents,
                    "visit_frac": round(visit_frac, 4),
                    "route": route,
                    "fit_sec": round(fit_sec, 3),
                    "assign_flat_sec": assign["flat"],
                    "assign_hier_sec": assign["hier"],
                    "probe_wall_min_sec": round(min(walls[1:]), 3),
                    "out_rows": n_out,
                    "protocol": f"min-of-{passes} quiet-host",
                }
            ),
            flush=True,
        )
    spark.stop()


def main_knn_tuned() -> None:
    """r13 (r12 verdict #1 done-criterion): the COST OF RECALL >= 0.8.
    For both XL twins x two sizes: fit the scaled index, let the
    recall-routed pick choose nprobe* (the registered ann_knn_join_tuned
    route), then time the join at the fixed default nprobe=2 and at
    nprobe* (min-of-KNN_PASSES, count() sink like knn_join_xl), and
    MEASURE pair-level eval recall of both outputs against the exact
    ann_topk_batch ground truth — so every record carries (recall,
    wall) for both configs and the recall >= target claim is verified
    on the twin itself, not extrapolated from the gate SF."""
    import numpy as np  # noqa: F401
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osm2orc_spark.operators.ann_index import (
        KNN_K,
        KNN_NPROBE,
        KNN_RECALL_TARGET_PCT,
        AnnIndex,
        _tuned_nprobe,
        ann_knn_join,
    )
    from osm2orc_spark.operators.similarity import (
        IVF_KM_ITERS,
        N_CENTROIDS,
        _lloyd_fit_ints,
        ann_topk_batch,
    )

    spark = get_spark(
        app_name="measure_scaling_knn_tuned",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("KNN_PASSES", "3"))

    def exact_pairs(emb_dir: str) -> set[tuple[int, int]]:
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
        rows = (
            ann_topk_batch(spark, emb_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KNN_K)
            .select("q_id", "vec_id")
            .collect()
        )
        return {(r["q_id"], r["vec_id"]) for r in rows}

    def pair_recall(emb_dir: str, idx, nprobe: int, truth) -> float:
        qids = sorted({q for q, _ in truth})
        got = {
            (r["vec_id"], r["nb_id"])
            for r in ann_knn_join(spark, emb_dir, idx, nprobe=nprobe)
            .filter(F.col("vec_id").isin(qids))
            .select("vec_id", "nb_id")
            .collect()
        }
        return sum(1 for p in truth if p in got) / max(1, len(truth))

    global EMB_REP
    # Salted runs ONE size: the decorrelated twin needs nprobe ~0.22*k
    # for 0.8 recall (measured: 171/781 cells, 123 s vs 2.7 s at 200k)
    # — the cost is a property of distance concentration, not of n, and
    # a 800k run at that visit fraction is ~30 min of wall for the same
    # conclusion.  The clustered twin (the regime IVF presumes) runs
    # both sizes to show the recall-routed cost tracks linearly.
    for twin, builder, reps in (
        ("salted", _build_xl_embeddings, (100,)),
        ("clustered", _build_xl_embeddings_clustered, (100, 400)),
    ):
        for rep in reps:
            n = 2000 * rep
            saved_rep = EMB_REP
            EMB_REP = rep
            try:
                emb_dir = builder(spark)
            finally:
                EMB_REP = saved_rep
            # the REGISTERED tuned route's k rule (cap included): this
            # micro prices that route, so it must fit the same k it
            # would fit (r13 review — the uncapped spelling diverges
            # silently above 256*MAX_FIT_ROWS/4 vectors)
            from osm2orc_spark.operators.ann_index import _scaled_k_cents

            k_cents = _scaled_k_cents(n) or N_CENTROIDS
            t0 = time.perf_counter()
            cents = _lloyd_fit_ints(spark, emb_dir, k_cents, IVF_KM_ITERS)
            fit_sec = time.perf_counter() - t0
            idx = AnnIndex(
                kind="ivf", centroids=tuple(tuple(c) for c in cents)
            )
            t0 = time.perf_counter()
            nprobe_t = _tuned_nprobe(spark, emb_dir, idx)
            route_sec = time.perf_counter() - t0
            truth = exact_pairs(emb_dir)
            rec = {
                tag: pair_recall(emb_dir, idx, npv, truth)
                for tag, npv in (("default", KNN_NPROBE), ("tuned", nprobe_t))
            }
            walls = {}
            out_rows = {}
            for tag, npv in (("default", KNN_NPROBE), ("tuned", nprobe_t)):
                ws = []
                for i in range(passes + 1):  # first warms
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    out_rows[tag] = ann_knn_join(
                        spark, emb_dir, idx, nprobe=npv
                    ).count()
                    ws.append(time.perf_counter() - t0)
                walls[tag] = round(min(ws[1:]), 3)
            print(
                json.dumps(
                    {
                        "micro": "knn_tuned_xl",
                        "round": 13,
                        "twin": twin,
                        "vectors": n,
                        "k_cents": k_cents,
                        "target_pct": KNN_RECALL_TARGET_PCT,
                        "nprobe_default": KNN_NPROBE,
                        "nprobe_tuned": nprobe_t,
                        "fit_sec": round(fit_sec, 3),
                        "route_sec": round(route_sec, 3),
                        "recall_default": round(rec["default"], 4),
                        "recall_tuned": round(rec["tuned"], 4),
                        "wall_default_sec": walls["default"],
                        "wall_tuned_sec": walls["tuned"],
                        "out_rows_default": out_rows["default"],
                        "out_rows_tuned": out_rows["tuned"],
                        "protocol": f"min-of-{passes} quiet-host",
                    }
                ),
                flush=True,
            )
    spark.stop()


def main_knn_micro() -> None:
    """r10 verdict #7 + r11 verdict #1/#2 done-criteria, r12 protocol:
    TWO twins x four sizes (200k..1.6M vectors, min-of-3).  The
    sign-salted twin has no global cluster structure (measured: the
    exact two-level scan visits ALL groups — nothing prunes in
    concentrated 64-dim distances), so its route must stay FLAT, whose
    cost is n * min(n/256, 16384) dots — linear at scale by the r12
    k-cap.  The clustered twin preserves the structure IVF presumes;
    there the visit-fraction probe must pick HIER and the assignment
    wall must drop well below flat.  Per (twin, size): the driver-side
    visit-frac probe value + chosen route, assignment scan timed ALONE
    in both kernels (bit-identical output), then the full join under
    the default (auto-routed) dispatch."""
    import numpy as np  # noqa: F401

    from osm2orc_spark.operators import ann_index
    from osm2orc_spark.operators.ann_index import (
        KNN_NPROBE,
        AnnIndex,
        ann_knn_join,
    )
    from osm2orc_spark.operators.similarity import (
        IVF_KM_ITERS,
        N_CENTROIDS,
        _lloyd_fit_ints,
    )
    from osm2orc_spark.tables import load

    spark = get_spark(
        app_name="measure_scaling_knn",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    passes = int(os.environ.get("KNN_PASSES", "3"))

    global EMB_REP
    for twin, builder in (
        ("salted", _build_xl_embeddings),
        ("clustered", _build_xl_embeddings_clustered),
    ):
        for rep in (100, 200, 400, 800):
            n = 2000 * rep
            saved_rep = EMB_REP
            EMB_REP = rep
            try:
                emb_dir = builder(spark)
            finally:
                EMB_REP = saved_rep
            k_cents = max(N_CENTROIDS, n // 256)
            t0 = time.perf_counter()
            cents = _lloyd_fit_ints(spark, emb_dir, k_cents, IVF_KM_ITERS)
            fit_sec = time.perf_counter() - t0
            cents_l = [list(c) for c in cents]
            idx = AnnIndex(kind="ivf", centroids=tuple(tuple(c) for c in cents))

            hier = ann_index._hier_groups(cents_l)
            visit_frac = ann_index._hier_visit_frac(cents_l, hier, KNN_NPROBE)
            # Route via the SAME decision ann_knn_join makes (r12 advice
            # #3: recomputing the threshold logic inline can silently
            # diverge from _pick_hier if the probe rules change).
            route = (
                "hier"
                if ann_index._pick_hier(cents_l, KNN_NPROBE) is not None
                else "flat"
            )

            emb = load(spark, emb_dir, "embeddings").select(
                "vec_id", "embedding"
            )
            emb_t = emb.schema["embedding"].dataType.simpleString()
            schema = (
                f"vec_id long, embedding {emb_t}, cid int, probes array<int>"
            )
            assign = {}
            for tag in ("flat", "hier"):
                kern = ann_index._knn_assign_kernel(
                    cents_l, KNN_NPROBE, hier if tag == "hier" else None
                )
                walls = []
                for i in range(passes + 1):  # first warms
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    emb.mapInArrow(kern, schema).count()
                    walls.append(time.perf_counter() - t0)
                assign[tag] = round(min(walls[1:]), 3)

            walls = []
            n_out = 0
            for i in range(passes + 1):  # first warms; auto-routed dispatch
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                n_out = ann_knn_join(spark, emb_dir, idx).count()
                walls.append(time.perf_counter() - t0)
            print(
                json.dumps(
                    {
                        "micro": "knn_join_xl",
                        "round": 12,
                        "twin": twin,
                        "vectors": n,
                        "config": "scaled",
                        "k_cents": k_cents,
                        "avg_cell": round(n / k_cents, 1),
                        "visit_frac": round(visit_frac, 4),
                        "route": route,
                        "fit_sec": round(fit_sec, 3),
                        "assign_flat_sec": assign["flat"],
                        "assign_hier_sec": assign["hier"],
                        "probe_wall_min_sec": round(min(walls[1:]), 3),
                        "out_rows": n_out,
                        "protocol": f"min-of-{passes} quiet-host",
                    }
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    args = set(sys.argv[1:])
    known = {
        "--skew-xl",
        "--skew",
        "--components-micro",
        "--streaming-micro",
        "--ann-micro",
        "--trigger-scaling",
        "--banding-xl",
        "--streaming-rocksdb",
        "--decon-micro",
        "--pack-micro",
        "--dim-windows",
        "--burst-micro",
        "--rolling-micro",
        "--pct-micro",
        "--registered-dimw",
        "--decon-doubling",
        "--knn-micro",
        "--knn-band-micro",
        "--knn-tuned",
    }
    if args - known:
        # Unknown flags must NOT fall through to the (long) default run.
        sys.exit(f"unknown args {sorted(args - known)}; known: {sorted(known)}")
    if "--skew-xl" in args:
        main_skew_xl()
    elif "--components-micro" in args:
        main_components_micro()
    elif "--streaming-micro" in args:
        main_streaming_micro()
    elif "--ann-micro" in args:
        main_ann_micro()
    elif "--trigger-scaling" in args:
        main_trigger_scaling()
    elif "--banding-xl" in args:
        main_banding_xl()
    elif "--streaming-rocksdb" in args:
        main_streaming_rocksdb()
    elif "--decon-micro" in args:
        main_decon_micro()
    elif "--pack-micro" in args:
        main_pack_micro()
    elif "--dim-windows" in args:
        main_dim_windows()
    elif "--burst-micro" in args:
        main_burst_micro()
    elif "--rolling-micro" in args:
        main_rolling_micro()
    elif "--pct-micro" in args:
        main_pct_micro()
    elif "--registered-dimw" in args:
        main_registered_dimw()
    elif "--decon-doubling" in args:
        main_decon_doubling()
    elif "--knn-tuned" in args:
        main_knn_tuned()
    elif "--knn-band-micro" in args:
        main_knn_band_micro()
    elif "--knn-micro" in args:
        main_knn_micro()
    elif "--skew" in args:
        main_skew()
    else:
        main()
