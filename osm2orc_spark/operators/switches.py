"""Data-dependent strategy switches for registered queries (r8 verdict #1).

Round 8 proved, with XL measurement, that three registered query families
have scale-safe spellings that are output-identical but only existed as
opt-in variants:

- the per-user window family (``sessionize_events``,
  ``window_lag_transitions``, ``event_transitions``,
  ``event_run_islands``, ``scd2_user_value_bands``,
  ``asof_join_next_event``, ``asof_join_last_purchase``) blows up 3-5.9x
  on a 2x10^6-row hot user (one unsplittable PARTITION BY user_id
  WindowExec task; ``xl_event_windows`` in SCALING_SKEW.jsonl) while the
  chunked split-and-stitch twins hold 0.81-1.30x;
- ``simhash_near_dup``'s fixed 4x2^12 bucket space goes Theta(n^2/4096)
  once coincidence-dominated (1.95e9 candidate pairs at 2e6 random
  signatures vs 15.3e6 refined) — the recursive-pigeonhole refinement is
  EXACT at any size but pays ~2x on truth-dominated corpora;
- ``embedding_near_dup_lsh``'s 8x8-bit banding saturates its 2^8 bucket
  space (1.19e10 join rows at 800k vectors, DNF) — adaptive band
  refinement moves 148x fewer rows and is output-identical below the
  bucket cap.

This module is the switchboard: cheap, memoized, data-derived probes that
let each REGISTERED query pick its measured scale path automatically,
exactly like the in-repo precedent (``dedup_components``' edge-count
strategy pick, dedup.py).  Below every threshold the registered plan is
byte-identical to the r8 plan, so driver oracle hashes at the gate SFs
are untouched.

Probe results memoize per (sf_dir, probe) for the process lifetime: the
inputs are immutable driver parquet (TESTDATA.md) or write-once twins,
and memoization keeps bench passes 2..N free of the probe job.  Tests
that rewrite a directory in place must call :func:`probe_cache_clear`.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2orc_spark.tables import load

# Per-key row count above which the per-user window family switches to
# the chunked split-and-stitch spelling.  Measured anchors
# (SCALING_SKEW.jsonl xl_event_windows, 2x10^6 rows on one user):
# registered spellings 3.0-5.9x vs the uniform twin, chunked twins
# 0.81-1.30x.  10^5 rows sort comfortably inside one window task (the
# sf0.1 hot_user twin's 10k-row key showed no straggle in the r6 sweep),
# so below the threshold the single-exchange registered plan — which
# wins locally by 1.5-3.5x on uniform data — is kept.
HOT_KEY_ROWS = 100_000

# Hybrid-split cap: with 1..HOT_KEY_MAX_LIST hot keys the window family
# runs a HYBRID plan — hot keys through the chunked split-and-stitch
# spelling, everyone else through the single-exchange window plan, union
# of the two (per-key windows make the split exact: disjoint key sets
# compute independently).  The hot set rides as an `isin` scan predicate
# (driver literals, no join).  Beyond the cap (only possible when
# total_rows > cap * HOT_KEY_ROWS ~ 10^8 at the defaults, i.e. most of
# the table is hot keys) the all-chunked spelling takes over — bounded
# for EVERY key with no driver-side list at all.
HOT_KEY_MAX_LIST = 1024

# simhash_near_dup regime switch (r9 verdict #4: coincidence-driven, not
# size-driven).  The banded plan's candidate join costs Sum_b C(n_b, 2)
# over the 4 x 2^12 level-1 buckets; the recursive-pigeonhole refinement
# (EXACT at any size) reduces only the COINCIDENCE share of that mass —
# pairs that land in a bucket by chance and disagree on the residual
# sub-chunks (~128x reduction, measured) — while multiplying the
# truth share (real near-dup families, which agree on sub-chunks too)
# by its 4x fan-out.  So the right discriminator is the FLAT bucket
# mass: pairs in buckets at or below the coincidence level
# n/4096 + SIMHASH_FLAT_SIGMA * sqrt(n/4096) (Poisson mean + tail
# headroom; floored at the refinement bucket cap so tiny corpora never
# probe-flip).  Buckets ABOVE that level are dominated by a real
# signature cluster whose pairs refinement cannot remove.  The probe is
# one bounded agg (<= 16,384 groups) on the already-persisted signature
# frame, memoized per sf_dir.
#
# Routing errors near the threshold are cost-only (refined == banded
# bit-for-bit, test-asserted): at most the ~2x fan-out premium one way
# or the measured-but-bounded flat join the other.  2^28 flat pairs
# splits the measured decades — the gate SFs carry ~10^3-10^6 flat
# pairs, the r8/r9 coincidence blow-up 1.95e9 — and a size-2^28 banded
# join is still tens of seconds on 32 cores, nowhere near DNF.
# Replaces r9's SIMHASH_REFINE_MIN_DOCS = 2^20 corpus-size criterion,
# which sent every corpus above 2^20 docs through refinement even when
# its bucket mass was concentrated in true clusters (the ~2x premium
# for nothing; the size rule could never DNF, only overpay).
SIMHASH_FLAT_PAIRS_MAX = 1 << 28
SIMHASH_FLAT_SIGMA = 8.0

# curation_decontaminate / curation_contamination_report regime switch
# (r10 scale-killer #7): both queries' flat spelling equi-joins the train
# and test shingle streams on `shingle`, which fans out
# df_train(g) * df_test(g) rows PER SHINGLE before the per-doc distinct
# aggregation collapses it back to one row per doc.  A boilerplate
# shingle present in most documents (license header, scraped nav bar)
# lands in ~80% of the train split AND ~10% of the test split, so ONE
# join key carries Theta(0.08 * n^2) rows — and an equi-join key cannot
# be split across tasks by AQE without replicating the other side, so
# the mass concentrates in a handful of tasks on top of being quadratic
# in total.  The factored spelling (curation._union_hit_counts) computes
# the SAME distinct-hit counts by grouping docs by their hot-shingle
# combination and computing each distinct combination's test-doc union
# once — provably never more join mass than the flat join (a shingle's
# combination count <= its train df) and near-linear in the boilerplate
# regime that kills the flat plan.  The probe is the flat join's exact
# row count Sum_g df_train(g) * df_test(g), computed from the two
# per-shingle count aggregates (linear, one row per side per distinct
# shingle, no doc x doc fan-out), memoized per sf_dir.  Threshold: the
# gate SFs carry 2.5e3-2.2e5 flat pairs (measured on driver data:
# sf0.001 2,759, sf0.01 2,509, sf0.1 216,462 — three decades of
# headroom); the measured boilerplate
# twins cross DNF territory around 10^10.  2^27 rows keeps the flat
# join's worst single-key task around a measured ~4s on 32 cores and
# switches well before the quadratic wall; routing errors near the
# threshold are cost-only (factored == flat bit-for-bit,
# property-tested + forced-switch identity at the gate SF).
DECON_FLAT_PAIRS_MAX = 1 << 27

_PROBE_CACHE: dict[tuple[str, str], int | tuple[int, ...]] = {}


def probe_cache_clear() -> None:
    """Drop all memoized probe results (tests that rewrite a dir)."""
    _PROBE_CACHE.clear()


def _cache_key(sf_dir: str, probe: str) -> tuple[str, str]:
    return (os.path.abspath(sf_dir), probe)


def cached_probe(sf_dir: str, probe: str, compute) -> int | tuple:
    """Memoized probe: ``compute()`` runs once per (dir, probe).  Every
    strategy probe in the package routes through here — it is the choke
    point the switch-registry detection sweep instruments
    (tests/test_switch_registry.py), so a new strategy switch cannot
    ship without joining SWITCHED_QUERIES.  Values are ints (counts,
    masses) or tuples (hot-key lists)."""
    key = _cache_key(sf_dir, probe)
    if key not in _PROBE_CACHE:
        v = compute()
        _PROBE_CACHE[key] = v if isinstance(v, tuple) else int(v)
    return _PROBE_CACHE[key]


def hot_key_list(spark: SparkSession, sf_dir: str) -> tuple[int, ...]:
    """The ``events`` user_ids holding more than HOT_KEY_ROWS rows,
    capped at HOT_KEY_MAX_LIST + 1 entries (the +1 lets callers detect
    overflow and fall back to the all-chunked plan).  One narrow scan
    (column pruning keeps it to the key column) + a map-side-combinable
    groupBy; memoized per (dir, threshold) — the threshold is part of
    the cache key because tests monkeypatch it."""
    key, threshold = "user_id", HOT_KEY_ROWS
    probe = f"hot_keys:events:{key}:{threshold}"

    def _compute() -> tuple:
        # NULL keys are excluded BEFORE the limit (a NULL row must not
        # take an overflow slot): they cannot ride an `isin` predicate
        # (NULL isin -> NULL) and the chunked primitives' stitch joins
        # require non-null keys (NULL != NULL in a join) — the
        # dispatcher (per_key_window) routes ALL NULL-key rows through
        # the window branch instead, so a hot NULL key keeps the
        # unbounded window: correct always, straggle-bounded only for
        # real keys (a NULL-hot stream is a data-quality bug upstream
        # of any engine strategy).
        rows = (
            load(spark, sf_dir, "events")
            .filter(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > threshold)
            .select(key)
            .limit(HOT_KEY_MAX_LIST + 1)
            .collect()
        )
        return tuple(sorted(r[key] for r in rows))

    # through cached_probe like every other probe: it is the ONE choke
    # point the switch-registry detection sweep instruments
    return cached_probe(sf_dir, probe, _compute)


def window_strategy(
    spark: SparkSession, sf_dir: str
) -> tuple[str, tuple[int, ...]]:
    """The per-key window family's three-level strategy pick:

    - ``("window", ())``  — no hot key; the r8 single-exchange plan.
    - ``("hybrid", hot)`` — 1..HOT_KEY_MAX_LIST non-null hot keys;
      split on the key set, chunked for hot / window for the rest,
      union (exact).
    - ``("chunked", ())`` — more hot keys than the list cap; every
      NON-NULL key takes the bounded split-and-stitch plan.

    :func:`per_key_window` applies the pick, NULL-key routing included.
    """
    hot = hot_key_list(spark, sf_dir)
    if not hot:
        return ("window", ())
    if len(hot) > HOT_KEY_MAX_LIST:
        return ("chunked", ())
    return ("hybrid", hot)


def _hot_pred(key: str, hot: tuple) -> "F.Column":
    """Scan predicate selecting the hot-key rows of a hybrid split."""
    return F.col(key).isin(*hot)


def _cold_pred(key: str, hot: tuple) -> "F.Column":
    """Complement of :func:`_hot_pred` INCLUDING NULL keys: plain
    ``~isin`` evaluates to NULL for a NULL key, which would silently
    drop those rows from both hybrid branches."""
    return F.col(key).isNull() | ~F.col(key).isin(*hot)


def per_key_window(
    spark: SparkSession,
    sf_dir: str,
    ev: DataFrame,
    window_core: Callable[[DataFrame], DataFrame],
    chunked_core: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The per-user window family's one dispatcher: run ``window_core``
    (the single-exchange PARTITION BY user_id spelling) and/or
    ``chunked_core`` (its split-and-stitch twin) over ``ev`` as
    :func:`window_strategy` picks.  Both cores must be exact on any
    key-closed slice of ``ev`` (per-key windows compute independently on
    disjoint key sets), so each union below equals ``window_core(ev)``.

    - ``"window"``: ``window_core(ev)``; the chunked core is never
      called, so its chunk-width probe never fires.
    - ``"hybrid"``: cold keys (NULL included) windowed, hot keys chunked.
    - ``"chunked"``: NULL keys windowed (the chunked stitch joins need
      non-null keys), every other key chunked.
    """
    key = "user_id"
    strategy, hot = window_strategy(spark, sf_dir)
    if strategy == "window":
        return window_core(ev)
    if strategy == "chunked":
        cold_rows, hot_rows = F.col(key).isNull(), F.col(key).isNotNull()
    else:
        cold_rows, hot_rows = _cold_pred(key, hot), _hot_pred(key, hot)
    return window_core(ev.filter(cold_rows)).unionByName(
        chunked_core(ev.filter(hot_rows))
    )


def table_rows(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Memoized row count of a driver table (parquet count-star —
    answered from footer statistics, no data scan)."""
    return cached_probe(
        sf_dir, f"table_rows:{table}", lambda: load(spark, sf_dir, table).count()
    )


# Under-split-scan repartition gate (r15, VERDICT r14 #2).  The r14
# repartition-before-fan-out fixed a real gate-SF pathology — the
# documents file is ONE parquet split locally, so the tokenize/explode
# fan-out (and any cache it fills) ran on one task — but the r14
# spelling was UNCONDITIONAL, and an explicit-N repartition is a real
# Exchange that AQE can neither elide nor coalesce: at 100 TB it would
# shuffle the full document text once per query while the scan is
# already thousands of splits wide.  Gate it on the actual scan split
# count: repartition only when the scan cannot fill the cores by
# itself.  The probe is driver-only metadata (the planned scan's
# partition count — file listing + split arithmetic, no job), memoized
# per (dir, table).  Cost of a borderline pick is bounded by CLUSTER
# size, not data size: the repartition only ever fires when the scan
# holds fewer than FANOUT_SPLIT_FACTOR x defaultParallelism splits,
# i.e. at most ~parallelism x maxPartitionBytes bytes move.  Routing
# is cost-only (a keyed repartition never changes values) and the gate
# SFs sit on the repartition side, so driver plans are unchanged.
FANOUT_SPLIT_FACTOR = 1


def scan_splits(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Partition count of the planned parquet scan of ``table`` —
    driver-side split arithmetic only, no Spark job."""
    return cached_probe(
        sf_dir,
        f"scan_splits:{table}",
        lambda: load(spark, sf_dir, table).rdd.getNumPartitions(),
    )


def fanout_repartition(spark: SparkSession, sf_dir: str, df, key: str):
    """``df.repartition(defaultParallelism, key)`` IF the ``documents``
    scan is too few splits to fill the cores, else ``df`` unchanged (the
    scan is already parallel; adding an Exchange would only move the
    payload again).  ``df`` must be a plain projection of the documents
    scan."""
    par = spark.sparkContext.defaultParallelism
    if scan_splits(spark, sf_dir, "documents") < FANOUT_SPLIT_FACTOR * par:
        return df.repartition(par, key)
    return df


# Multi-consumer tokenize cutover (r15, VERDICT r14 #6).  text_tfidf_topk
# consumes its tf fan twice (the term join AND the df aggregate), and
# Catalyst plans identical subtrees independently — so the REGISTERED
# spelling re-runs the scan+tokenize+groupBy once per consumer.  At gate
# SFs that replication is the measured-right shape (r14, 6-datapoint
# rule: replicated narrow subtrees overlap on idle cores while a persist
# serializes every consumer behind one cache build).  At corpus scale the
# balance flips: cores are not idle, each replicated pass is a full
# documents scan + tokenize, and the persisted tf fan is the NARROW
# post-aggregate (doc_id, term, count) frame — and with the subtree
# planned once, the repartition-before-fan-out rule applies again.  The
# probe is the documents parquet row count (footer statistics, free);
# routing is cost-only (a persist never changes values; forced-on
# identity is A/B-parity-proven and pinned by
# tests/test_switches.py::test_tokenize_persist_identity).  Measured
# (interleaved in-session A/B, x64 salted twin, 320k docs): persist min
# 4.08 vs 5.37s and 4.71 vs 6.55s across two sessions (1.31-1.39x), med
# 9.15 vs 16.95s under drift; the x16 twin (80k docs) was a wash, and
# the gate SFs (50-5,000 docs) favor replicate (r14 rule).  2^17 puts
# the wash zone and the gate SFs on the replicate side and the
# measured-win decade on the persist side.  text_bigram_coverage was
# tried at the same cutover and REJECTED both ways (see the NOTE at its
# site): its fan does not reduce under aggregation, so the persist only
# adds an exchange and a corpus-sized cache.
TOKENIZE_PERSIST_MIN_DOCS = 1 << 17


def tokenize_persist(spark: SparkSession, sf_dir: str) -> bool:
    """True when the corpus is big enough that re-running the tokenize
    fan once per consumer costs more than one persisted pass."""
    return (
        table_rows(spark, sf_dir, "documents") > TOKENIZE_PERSIST_MIN_DOCS
    )


# Unpartitioned-window straggler switch (r10 scale-killer #11 — the N=1
# case of the fixed-shard window class #8/#9): NTILE/running-sum windows
# with NO partition key sort their whole input frame in ONE WindowExec
# task.  "Dimension-sized" is not a bound — the TPC-H part and customer
# dimensions grow LINEARLY with SF, so customer_rfm_segments' three
# global ntile sorts and part_abc_pareto's running-share sort are
# rows/1-per-task stragglers at exactly the scale this engine targets
# (10^10 dimension rows at 100 TB).  Above the bar the queries route
# through chunked.ranged_two_level (range-partitioned in-chunk window +
# bounded summary carry, output-identical, property-tested + forced-
# switch identity).  The probe is the DIMENSION table's parquet row
# count (footer statistics, no scan): the post-aggregation frame is at
# most one row per dimension key, so the probe is a free upper bound
# that only ever errs toward the bounded plan (cost-only: ranged ==
# flat bit-for-bit).  Threshold matches the window family's per-task
# bar (HOT_KEY_ROWS): 10^5 rows sort comfortably in one task; the gate
# SFs carry 2k-20k dimension rows, far below.
DIM_WINDOW_ROWS_MAX = HOT_KEY_ROWS

# Target rows per range partition for ranged_two_level: bounds every
# in-partition window task at ~2^20 rows (the pack/shuffle chunk-width
# precedent) while keeping the per-pid summary at ceil(n/2^20) rows —
# 10^4 summary rows at 10^10 input rows, a trivial single-task sort.
RANGED_CHUNK_ROWS = 1 << 20


def dim_window_nparts(n_rows: int) -> int:
    """Range-partition count for ranged_two_level: ceil(n / 2^20),
    floored at 32 so the local[32] twins exercise real parallelism (a
    cluster would floor at its default parallelism instead)."""
    return max(32, -(-int(n_rows) // RANGED_CHUNK_ROWS))


# Burst-rate chunk-width adaptation for the time-chunked window family
# (r10, closing the family's documented residual): time chunking bounds
# per-task rows by peak RATE, not lifetime volume — a key emitting 2x10^6
# rows inside ONE default chunk (1 h) still serializes that chunk through
# a single window task no matter how the stream is split.  Since chunk
# width never affects OUTPUT (the stitch is exact for any width;
# property-tested across widths in test_chunked_windows), the width is a
# pure cost knob — so derive it from the data: probe the peak per
# (key, chunk) occupancy at the default width and shrink by power-of-2
# factors until the peak fits the per-task bar (HOT_KEY_ROWS), re-probing
# at each width (a burst is rarely uniform, so the rescale is iterated,
# not trusted).  Probes are the same single map-side-combinable agg shape
# as hot_key_list, memoized per (dir, width) — and they only run when a
# chunked core actually resolves a width, i.e. never under the "window"
# strategy.  Floor: MIN_CHUNK_MS — below ~1 s the residual is same-
# timestamp ties, which MUST share a chunk (equal sort keys cannot split
# across a stitch seam) and are irreducible by any width.
MIN_CHUNK_MS = 1_000
BURST_PROBE_MAX_ITERS = 6


def _next_pow2(x: int) -> int:
    return 1 << max(0, int(x) - 1).bit_length()


def peak_chunk_rows(spark: SparkSession, sf_dir: str, width_ms: int) -> int:
    """Largest per-(user_id, time-chunk) ``events`` row count at
    ``width_ms`` — the straggler probe for the chunked cores' in-chunk
    windows.  NULL keys are excluded (they route through the plain
    window branch)."""

    def _compute() -> int:
        ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
        chunk = F.floor(F.unix_millis("ts") / F.lit(width_ms)).cast("bigint")
        row = (
            ev.groupBy(F.col("user_id"), chunk.alias("_c"))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m"))
            .first()
        )
        return row["m"] or 0

    return cached_probe(
        sf_dir, f"peak_chunk_rows:events:user_id:ts:{width_ms}", _compute
    )


def burst_chunk_ms(spark: SparkSession, sf_dir: str, default_ms: int) -> int:
    """The chunk width the time-chunked cores should use for this dir:
    ``default_ms`` when the default-width peak occupancy fits the
    per-task bar (the common case — zero plan change), else the largest
    power-of-2 division of ``default_ms`` whose re-probed peak fits
    (down to MIN_CHUNK_MS).  Widths stay canonical powers-of-2 of the
    default so every query in a process shares the same memoized probe
    ladder."""
    bar = max(1, int(HOT_KEY_ROWS))  # tests force the bar to 0/negative
    width = int(default_ms)
    for _ in range(BURST_PROBE_MAX_ITERS):
        peak = peak_chunk_rows(spark, sf_dir, width)
        if peak <= bar or width <= MIN_CHUNK_MS:
            break
        shrink = _next_pow2(-(-peak // bar))
        width = max(MIN_CHUNK_MS, width // shrink)
    return width


# ---------------------------------------------------------------------------
# The switch registry (r10 verdict #8): every REGISTERED query whose plan
# is picked by a runtime strategy probe, with the probes it fires and the
# pytest node ids of its forced-path identity test(s).  The invariant is
# STRUCTURAL, enforced by tests/test_switch_registry.py three ways:
#
# 1. detection — an instrumented sweep of every registered query's plan
#    build records which queries reach cached_probe (the one choke point
#    all probes route through); the detected set must equal this dict's
#    keys exactly, so the 14th scale-killer class cannot ship a switch
#    without registering here;
# 2. identity — each listed test node id must exist in pytest's
#    collection, so an entry cannot point at a deleted/renamed test;
# 3. plan pin — for every entry, the registered plan at the gate SF must
#    be byte-identical (modulo expr/plan ids) to the plan with every
#    threshold knob forced sky-high, proving the gate SFs sit below
#    every threshold and the driver's oracle hashes ride the base plan.
#
# ``probes`` entries match by PREFIX (hot-key probe keys embed their
# threshold).  Composed queries (the cc_n_edges trio) inherit
# dedup_components' switch and reference its strategy-agreement test.
# ---------------------------------------------------------------------------
_WINDOW_FAMILY_SWITCHED = (
    "sessionize_events", "window_lag_transitions", "event_transitions",
    "event_run_islands", "scd2_user_value_bands", "asof_join_next_event",
    "asof_join_last_purchase", "rolling_hour_user_activity",
    "asof_join_tolerance",
)

SWITCHED_QUERIES: dict[str, dict] = {
    **{
        name: {
            "probes": ("hot_keys:events:user_id",),
            "identity_tests": (
                f"tests/test_switches.py::test_window_family_switch_identity[{name}]",
                f"tests/test_switches.py::test_window_family_hybrid_identity[{name}]",
            ),
        }
        for name in _WINDOW_FAMILY_SWITCHED
    },
    "simhash_near_dup": {
        "probes": (
            "simhash_flat_pairs",
            "table_rows:documents",
            "scan_splits:documents",
        ),
        "identity_tests": (
            "tests/test_switches.py::test_simhash_switch_identity",
        ),
    },
    "embedding_near_dup_lsh": {
        "probes": ("lsh_max_bucket",),
        "identity_tests": (
            "tests/test_switches.py::test_lsh_switch_identity",
            "tests/test_switches.py::test_lsh_auto_path_below_cap_identical",
        ),
    },
    "dedup_semantic_kmeans": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::test_semantic_kmeans_kscale_switch",
        ),
    },
    "ann_knn_join_prebuilt": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_knn_scale_switch_identity",
        ),
    },
    # composed consumers: inherit the kNN join's k-scale switch through
    # _knn_join_registered (the cc_n_edges-trio inheritance pattern)
    "curation_semdedup": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_semdedup_kscale_switch_identity",
        ),
    },
    "curation_semdedup_docs": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_composed_kscale_switch_identity[curation_semdedup_docs]",
        ),
    },
    "ann_knn_recall": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_composed_kscale_switch_identity[ann_knn_recall]",
        ),
    },
    # r13: the recall-routed pair — k-scale switch inherited through the
    # same registered dispatch; the recall ROUTE itself is a quality
    # knob, not a cost switch (its pick is part of the value-hashed
    # output, pinned by TestKnnTuned minimality/target tests)
    "ann_knn_join_tuned": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_composed_kscale_switch_identity[ann_knn_join_tuned]",
        ),
    },
    "ann_knn_recall_tuned": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_composed_kscale_switch_identity[ann_knn_recall_tuned]",
        ),
    },
    "curation_semdedup_tuned": {
        "probes": ("table_rows:embeddings",),
        "identity_tests": (
            "tests/test_switches.py::TestKnnJoin::test_composed_kscale_switch_identity[curation_semdedup_tuned]",
        ),
    },
    "dedup_components": {
        "probes": ("cc_n_edges", "scan_splits:documents"),
        "identity_tests": (
            "tests/test_guards.py::test_dedup_components_strategies_agree",
        ),
    },
    **{
        name: {
            "probes": ("cc_n_edges", "scan_splits:documents"),
            "identity_tests": (
                "tests/test_guards.py::test_dedup_components_strategies_agree",
            ),
        }
        for name in (
            "curation_canonical_docs", "curation_training_mix",
            "curation_mix_report",
        )
    },
    # r15 second wave of the fan-out gate: the shared
    # _shingle_arrays/_simhash_df helpers and three standalone fan-out
    # queries route their repartition through fanout_repartition, so
    # every consumer fires the scan_splits probe.
    **{
        name: {
            "probes": ("scan_splits:documents",),
            "identity_tests": (
                f"tests/test_switches.py::test_fanout_gate_r15_identity[{name}]",
            ),
        }
        for name in (
            "dedup_boilerplate_chunks", "dedup_containment_pairs",
            "dedup_containment_ppjoin", "dedup_minhash_calibration",
            "dedup_minhash_lsh", "dedup_minhash_lsh_dfcap",
            "dedup_ngram_jaccard", "dedup_ppjoin",
            "dupgraph_triangle_stats", "simhash_signature",
            "text_ngram_vocab", "text_quality_classifier",
        )
    },
    # r15 (VERDICT #2): the repartition-before-fan-out trio — the
    # repartition only fires when the documents scan cannot fill the
    # cores (the gate-SF single-split pathology); many-split scans keep
    # their native parallelism and pay no full-text shuffle.
    **{
        name: {
            "probes": ("scan_splits:documents",),
            "identity_tests": (
                f"tests/test_switches.py::test_fanout_repart_gate_identity[{name}]",
            ),
        }
        for name in (
            "curation_dsir_select", "dedup_duplicate_spans",
            "dedup_spans_clean",
        )
    },
    # r15 (VERDICT #6): the multi-consumer tokenize cutover — persist
    # the narrow tf fan (and repartition before the now-single tokenize)
    # only when the corpus outgrows the replicated-subtree regime.
    "text_tfidf_topk": {
        "probes": ("table_rows:documents",),
        "identity_tests": (
            "tests/test_switches.py::test_tokenize_persist_identity",
        ),
    },
    "curation_decontaminate": {
        "probes": ("decon_flat_pairs", "scan_splits:documents"),
        "identity_tests": (
            "tests/test_decon_factored.py::test_registered_forced_factored_equals_flat[curation_decontaminate]",
        ),
    },
    "curation_contamination_report": {
        "probes": ("decon_flat_pairs", "scan_splits:documents"),
        "identity_tests": (
            "tests/test_decon_factored.py::test_registered_forced_factored_equals_flat[curation_contamination_report]",
        ),
    },
    "curation_pack_sequences": {
        "probes": ("pack_max_shard_rows",),
        "identity_tests": (
            "tests/test_pack_chunked.py::test_registered_forced_chunked_equals_flat",
        ),
    },
    "corpus_shuffle_shards": {
        "probes": ("table_rows:documents",),
        "identity_tests": (
            "tests/test_pack_chunked.py::test_registered_shuffle_forced_chunked_equals_flat",
        ),
    },
    "customer_rfm_segments": {
        "probes": ("table_rows:customer",),
        "identity_tests": (
            "tests/test_ranged_windows.py::test_rfm_forced_ranged_equals_flat",
        ),
    },
    "part_abc_pareto": {
        "probes": ("table_rows:part",),
        "identity_tests": (
            "tests/test_ranged_windows.py::test_pareto_forced_ranged_equals_flat",
        ),
    },
    "percentiles_value_by_type": {
        "probes": ("table_rows:events",),
        "identity_tests": (
            "tests/test_ranged_windows.py::test_percentiles_forced_ranged_equals_flat",
        ),
    },
}
