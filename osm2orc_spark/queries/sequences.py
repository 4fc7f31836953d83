"""Event-sequence analytics: Markov transitions, OHLC bars, run-length
islands, forward as-of, and sufficient-statistics anomaly scoring.

The reference (osm2orc) has no sequence operators; these cover the
ordered-stream query shapes a corpus/telemetry engine needs on top of
the windowed analytics already in queries/advanced.py. Everything here
follows the registry determinism rules (docstring in registry.py):
exact integer/DECIMAL aggregation, engine-identical IEEE expressions
for any float step, and a total-order tie-break on (ts, event_id)
(unique per event).

Scale notes (100 TB posture), per operator:

- transitions/islands: ONE shuffle on user_id for the sequence window
  (all of a user's events co-partition); the follow-up aggregate is
  tiny (|types|^2 rows) or map-side combinable.
- OHLC: no window at all — single groupBy with partial-aggregable
  min_by/max_by over a lexicographic (ts, event_id) string key, so the
  exchange carries one row per (hour, type) per map task.
- anomaly z-score: two passes over events but the first produces only
  |types| rows of exact sufficient statistics (n, sum, sumsq) that are
  BROADCAST back — the big table is never shuffled, and the partial
  aggregation is map-side combinable. This is the canonical way to
  score 100 TB against group statistics without a wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from osm2orc_spark.registry import register
from osm2orc_spark.tables import load

# Lexicographic total-order key for (ts, event_id): 20-digit zero-padded
# epoch micros + 12-digit zero-padded event_id. String comparison equals
# (ts, event_id) tuple comparison, and both engines have the same printf.
# (A function, not a module constant — building a Column needs a live
# SparkContext, and this module imports before any session exists.)
def _seq_key_spark():
    return F.format_string(
        "%020d-%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )


_SEQ_KEY_SQL = "printf('%020d-%012d', epoch_us(ts), event_id)"


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n
    FROM seq
    WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY n DESC, from_type, to_type
    """,
    doc="First-order Markov transition counts over each user's event "
    "stream (lag window on (ts, event_id) order, then a global "
    "(from, to) count). One user_id shuffle for the window; the "
    "transition matrix is |types|^2 rows with map-side partial counts. "
    "Hot keys auto-route to the chunked split-and-stitch lag (r8 "
    "verdict #1 — same unbounded-lag shape as window_lag_transitions; "
    "bounded hot sets split hybrid at the shared lag frame).",
    tags=("sequence", "window"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.queries.relational import lag_type_frame

    seq = lag_type_frame(spark, sf_dir).select(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    )
    return (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "from_type", "to_type")
    )


@register(
    "ohlc_hourly_bars",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(arg_min(CAST(value AS DECIMAL(18,2)), {_SEQ_KEY_SQL}) AS DOUBLE) AS open,
           CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS high,
           CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS low,
           CAST(arg_max(CAST(value AS DECIMAL(18,2)), {_SEQ_KEY_SQL}) AS DOUBLE) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
    doc="OHLC bars per (hour, event_type) WITHOUT a sort window: "
    "open/close via min_by/max_by over a lexicographic (ts, event_id) "
    "key — every aggregate is partial-aggregable, so the plan is one "
    "exchange carrying pre-combined rows (the 100 TB shape; a "
    "row_number window would sort every partition instead). Money math "
    "in DECIMAL (exact, order-independent), DOUBLE only at the edge.",
    tags=("sequence", "aggregate"),
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    key = _seq_key_spark()
    return (
        ev.select(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
            v.alias("v"),
            key.alias("k"),
        )
        .groupBy("hour", "event_type")
        .agg(
            F.min_by("v", "k").cast("double").alias("open"),
            F.max("v").cast("double").alias("high"),
            F.min("v").cast("double").alias("low"),
            F.max_by("v", "k").cast("double").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


@register(
    "event_run_islands",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
           - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS isl
      FROM events
    )
    SELECT user_id, event_type,
           COUNT(*) AS run_len,
           MIN(ts) AS run_start,
           MIN(event_id) AS first_event_id
    FROM marked
    GROUP BY user_id, event_type, isl
    HAVING COUNT(*) >= 3
    ORDER BY user_id, run_start, first_event_id
    """,
    doc="Gaps-and-islands: maximal runs of consecutive same-type events "
    "per user (difference of two row_numbers = island id), keeping runs "
    "of length >= 3. Both windows share the user_id partitioning, so "
    "Catalyst plans ONE exchange and two sorts within it. Hot keys "
    "auto-route to the proven-identical chunked spelling (r8 verdict "
    "#1; 5.2x hot-user blow-up in xl_event_windows); bounded hot sets "
    "split hybrid — runs are per-user, so the union is exact.",
    tags=("sequence", "window"),
)
def event_run_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS

    return switches.per_key_window(
        spark,
        sf_dir,
        load(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts", "event_id"
        ),
        _islands_window_core,
        lambda ev: _islands_chunked_core(
            ev, switches.burst_chunk_ms(spark, sf_dir, DEFAULT_CHUNK_MS)
        ),
    ).orderBy("user_id", "run_start", "first_event_id")


def _islands_window_core(ev: DataFrame) -> DataFrame:
    """rn-diff islands (the r8 registered plan), sans final sort."""
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "isl", F.row_number().over(w_all) - F.row_number().over(w_typ)
    )
    return (
        marked.groupBy("user_id", "event_type", "isl")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("ts").alias("run_start"),
            F.min("event_id").alias("first_event_id"),
        )
        .filter(F.col("run_len") >= 3)
        .select("user_id", "event_type", "run_len", "run_start", "first_event_id")
    )


@register(
    "asof_join_next_event",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
             CASE WHEN event_type <> 'purchase' THEN event_id END AS e_id,
             CASE WHEN event_type <> 'purchase' THEN ts END AS e_ts
      FROM events
    ),
    scanned AS (
      SELECT user_id, ts, event_id, is_p,
             LAST_VALUE(e_id IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, is_p DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_event_id,
             LAST_VALUE(e_ts IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, is_p DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_event_ts
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, ts,
           next_event_id, next_event_ts
    FROM scanned
    WHERE is_p = 1 AND next_event_id IS NOT NULL
    ORDER BY purchase_id
    """,
    doc="FORWARD as-of join: for each purchase, the first strictly-later "
    "non-purchase event of the same user (events at the identical "
    "timestamp are excluded by the (ts DESC, is_p DESC) sort, which "
    "places the purchase before its same-ts events in scan order). Same "
    "union-scan shape as asof_join_last_purchase reversed — one user_id "
    "shuffle, no join explosion. Twin of queries/advanced.py's backward "
    "variant; together they cover both as-of directions. Hot keys "
    "auto-route to the proven-identical chunked spelling (r8 verdict "
    "#1; 5.0x hot-user blow-up in xl_event_windows); bounded hot sets "
    "split hybrid — the as-of carry is per-user, so the union is "
    "exact.",
    tags=("sequence", "asof", "window"),
)
def asof_join_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS

    return switches.per_key_window(
        spark,
        sf_dir,
        load(spark, sf_dir, "events"),
        _asof_next_window_core,
        lambda ev: _asof_next_chunked_core(
            ev, switches.burst_chunk_ms(spark, sf_dir, DEFAULT_CHUNK_MS)
        ),
    ).orderBy("purchase_id")


def _asof_next_tagged(ev: DataFrame) -> DataFrame:
    is_p = (F.col("event_type") == "purchase").cast("int")
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        is_p.alias("is_p"),
        F.when(F.col("event_type") != "purchase", F.col("event_id")).alias("e_id"),
        F.when(F.col("event_type") != "purchase", F.col("ts")).alias("e_ts"),
    )


def _asof_next_window_core(ev: DataFrame) -> DataFrame:
    """The r8 registered union-scan plan, sans final sort."""
    tagged = _asof_next_tagged(ev)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("is_p"), F.desc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scanned = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "is_p",
        F.last("e_id", ignorenulls=True).over(w).alias("next_event_id"),
        F.last("e_ts", ignorenulls=True).over(w).alias("next_event_ts"),
    )
    return (
        scanned.filter((F.col("is_p") == 1) & F.col("next_event_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
            "next_event_id",
            "next_event_ts",
        )
    )


ZSCORE_TOP = 20


@register(
    "anomaly_zscore_events",
    oracle=f"""
    WITH q AS (
      SELECT event_id, event_type,
             CAST(value AS DECIMAL(18,2)) AS v,
             CAST(CAST(FLOOR(value * 100) AS BIGINT) AS DECIMAL(38,0)) AS vq
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(vq) AS s,
             SUM(vq * vq) AS ss
      FROM q GROUP BY event_type
    )
    SELECT q.event_id, q.event_type,
           CAST(q.v AS DOUBLE) AS value,
           CASE WHEN CAST(stats.n * stats.ss - stats.s * stats.s AS DOUBLE) > 0
                THEN CAST(FLOOR((1e6 * CAST(stats.n * q.vq - stats.s AS DOUBLE))
                           / SQRT(CAST(stats.n * stats.ss - stats.s * stats.s AS DOUBLE)))
                     AS BIGINT)
                ELSE 0 END AS z_micro
    FROM q JOIN stats USING (event_type)
    ORDER BY abs(z_micro) DESC, q.event_id
    LIMIT {ZSCORE_TOP}
    """,
    doc="Top-N outliers by per-type z-score, computed from EXACT integer "
    "sufficient statistics: values quantize to BIGINT cents, (n, sum, "
    "sum-of-squares) accumulate in DECIMAL(38,0) (order-independent, no "
    "float drift), and the only IEEE step is one identical final "
    "expression z = (n*x - s) / sqrt(n*ss - s^2) in both engines. The "
    "stats table is |types| rows broadcast back onto the fact scan — "
    "the 100 TB pattern for scoring against group statistics without "
    "shuffling the fact table.",
    tags=("aggregate", "anomaly"),
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.floor(F.col("value") * 100).cast("long").cast("decimal(38,0)").alias("vq"),
    )
    stats = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("vq").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).alias("ss"),
    )
    num = (F.col("n") * F.col("vq") - F.col("s")).cast("double")
    var_n = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
    # Zero-variance guard: 0/0 is NaN, and floor(NaN)->BIGINT diverges
    # between engines (Spark yields 0, DuckDB errors/NULLs) — emit an
    # identical literal 0 for degenerate groups instead.
    z = (
        F.when(var_n > 0, F.floor((F.lit(1e6) * num) / F.sqrt(var_n)).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
    )
    return (
        q.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.col("v").cast("double").alias("value"),
            z.alias("z_micro"),
        )
        .orderBy(F.abs(F.col("z_micro")).desc(), "event_id")
        .limit(ZSCORE_TOP)
    )


@register(
    "hourly_spine_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    counts AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT s.hour,
           COALESCE(c.n, 0) AS n_purchases,
           c.n IS NULL AS gap
    FROM spine s LEFT JOIN counts c ON c.hour = s.hour
    ORDER BY s.hour
    """,
    doc="Time-series densification (gap fill): a generated hourly spine "
    "from min to max event hour, left-joined against per-hour purchase "
    "counts so silent hours materialize as zero rows — the shape every "
    "monitoring/forecasting pipeline needs, since a groupBy alone can't "
    "represent absence. The spine comes from sequence()+explode on a "
    "1-row bounds aggregate (no driver loop, no collect); the join "
    "broadcasts the tiny count side only if the optimizer picks it — at "
    "100 TB both sides stay distributed and the spine is trivially "
    "parallel.",
    tags=("sequence", "densify"),
)
def hourly_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    counts = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(counts, "hour", "left")
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).alias("n_purchases"),
            F.col("n").isNull().alias("gap"),
        )
        .orderBy("hour")
    )


@register(
    "event_cooccurrence_pmi",
    oracle="""
    WITH g AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr, event_type
      FROM events
    ),
    n_groups AS (
      SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, hr FROM g)
    ),
    singles AS (SELECT event_type, COUNT(*) AS n FROM g GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
      FROM g a JOIN g b
        ON a.user_id = b.user_id AND a.hr = b.hr AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           CAST(FLOOR((1e6 * CAST(CAST(p.n_ab AS DECIMAL(38,0))
                               * CAST(t.n AS DECIMAL(38,0)) AS DOUBLE))
                      / CAST(CAST(sa.n AS DECIMAL(38,0))
                             * CAST(sb.n AS DECIMAL(38,0)) AS DOUBLE))
                AS BIGINT) AS pmi_ratio_micro
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN n_groups t
    ORDER BY type_a, type_b
    """,
    doc="Pointwise-mutual-information co-occurrence of event types within "
    "(user, hour) context groups: lift = P(a,b)/(P(a)P(b)) in micro "
    "units, computed log-free from exact counts (DECIMAL(38,0) products, "
    "ONE identical IEEE division in both engines). The feature-mining "
    "shape behind association rules and word co-occurrence: the context "
    "frame shuffles once on (user, hour), the pair self-join runs within "
    "those tiny groups, and the |types| marginals broadcast back.",
    tags=("sequence", "eval"),
)
def event_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # NOTE(r14): the distinct (user, hr, type) frame feeds five
    # consumers and the scan+distinct subtree replays per consumer —
    # persisting it was A/B-measured WORSE (1.38 vs 1.13s min at sf0.1,
    # value-identical): the five replayed leaf stages overlap on idle
    # cores while the cache build serializes them behind one pass (the
    # same outcome as the shingle and boilerplate-chunk caches; persist
    # only pays here when the recomputed subtree is provably expensive).
    g = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("hr"), "event_type"
    ).distinct()
    n_groups = g.select("user_id", "hr").distinct().agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    singles = g.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = g.select("user_id", "hr", F.col("event_type").alias("type_a"))
    b = g.select("user_id", "hr", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "hr"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (F.lit(1e6) * (dec("n_ab") * dec("n_groups")).cast("double"))
    den = (dec("na") * dec("nb")).cast("double")
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_groups))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.floor(num / den).cast("bigint").alias("pmi_ratio_micro"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "weekly_activity_profile",
    oracle="""
    WITH cells AS (
      SELECT isodow(ts) AS dow, hour(ts) AS hod, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS total FROM cells)
    SELECT c.dow, c.hod, c.n,
           CAST(FLOOR((1e6 * c.n) / t.total) AS BIGINT) AS share_micro
    FROM cells c CROSS JOIN tot t
    ORDER BY c.dow, c.hod
    """,
    doc="Weekly activity heatmap: event counts per (ISO day-of-week 1-7, "
    "hour-of-day 0-23) with global share in micro units — the seasonal "
    "profile every telemetry dashboard draws. Exercises datetime-part "
    "extraction (Spark weekday()+1 == DuckDB isodow). 168-cell "
    "aggregate with map-side partial counts; the total is a broadcast "
    "1-row frame.",
    tags=("sequence", "aggregate"),
)
def weekly_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).alias("dow"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            "n",
            F.floor((F.lit(1e6) * F.col("n")) / F.col("total"))
            .cast("bigint")
            .alias("share_micro"),
        )
        .orderBy("dow", "hod")
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build: collapse each user's per-event value band into
# validity intervals [valid_from, valid_to) with a current-row flag —
# the slowly-changing-dimension shape every warehouse load runs when
# deriving dimension history from an event stream.
# ---------------------------------------------------------------------------
@register(
    "scd2_user_value_bands",
    oracle="""
    WITH banded AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value < 20 THEN 'low'
                  WHEN value < 60 THEN 'mid'
                  ELSE 'high' END AS band
      FROM events
    ),
    seq AS (
      SELECT user_id, ts, event_id, band,
             LAG(band) OVER w AS prev_band,
             ROW_NUMBER() OVER w AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_user
      FROM banded
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, band, ts AS valid_from, rn, n_user
      FROM seq WHERE prev_band IS NULL OR band <> prev_band
    )
    SELECT user_id, band, valid_from,
           LEAD(valid_from) OVER cw AS valid_to,
           CAST(COALESCE(LEAD(rn) OVER cw, n_user + 1) - rn AS BIGINT) AS n_events,
           LEAD(valid_from) OVER cw IS NULL AS is_current
    FROM changes
    WINDOW cw AS (PARTITION BY user_id ORDER BY valid_from, rn)
    """,
    doc="SCD2 (type-2 slowly-changing-dimension) build from the event "
    "stream: classify each event into a value band, keep only "
    "change-points (band differs from the previous event's band via "
    "lag), then interval-ize with lead — valid_from/valid_to half-open "
    "ranges, per-interval event count from row_number differences, and "
    "is_current on the open interval. Every window partitions by "
    "user_id with the same (ts, event_id) total order, so Catalyst "
    "plans ONE exchange for the whole derivation; the change-point "
    "filter shrinks the stream before the second (lead) window sorts "
    "it. At 100 TB this is the standard dimension-history load: shuffle "
    "once by the dimension key, never globally. Hot keys auto-route to "
    "the proven-identical chunked spelling (r8 verdict #1; 5.0x "
    "hot-user blow-up in xl_event_windows); bounded hot sets split "
    "hybrid — intervals are per-user, so the union is exact.",
    tags=("sequence", "window"),
)
def scd2_user_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS

    return switches.per_key_window(
        spark,
        sf_dir,
        _scd2_banded(load(spark, sf_dir, "events")),
        _scd2_window_core,
        lambda ev: _scd2_chunked_core(
            ev, switches.burst_chunk_ms(spark, sf_dir, DEFAULT_CHUNK_MS)
        ),
    )


def _scd2_banded(ev: DataFrame) -> DataFrame:
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high")
        .alias("band"),
    )


def _scd2_window_core(ev: DataFrame) -> DataFrame:
    """The r8 registered lag/lead interval build over pre-banded rows."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "band",
        F.lag("band").over(w).alias("prev_band"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n_user"),
    )
    changes = seq.filter(
        F.col("prev_band").isNull() | (F.col("band") != F.col("prev_band"))
    ).select("user_id", "band", F.col("ts").alias("valid_from"), "rn", "n_user")
    cw = W.partitionBy("user_id").orderBy("valid_from", "rn")
    return changes.select(
        "user_id",
        "band",
        "valid_from",
        F.lead("valid_from").over(cw).alias("valid_to"),
        (
            F.coalesce(F.lead("rn").over(cw), F.col("n_user") + 1) - F.col("rn")
        )
        .cast("bigint")
        .alias("n_events"),
        F.lead("valid_from").over(cw).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Split-and-stitch cores of the per-user window family: the
# operators/chunked.py primitives compute the window cores' results with
# every window bounded (the xl_event_windows sweep measured the window
# spellings 3-6x slower on a 2x10^6-row hot user).  The registered
# queries reach them through switches.per_key_window.
# ---------------------------------------------------------------------------
def _islands_chunked_core(ev: DataFrame, chunk_ms: int) -> DataFrame:
    """Fused split-and-stitch islands — the sessionize_events_chunked
    dataflow with the type-equality fuse rule instead of the time-gap
    rule: ONE event-level window pass (in-chunk lag + running sum share
    the window), one groupBy down to local runs, the stitch/renumber
    windows over the BOUNDED per-chunk summary, one join back.  The
    r8 two-primitive composition (a chunked lag, then a chunked running
    sum) paid two chunk passes + two summary joins and held a 3.3x hot ratio
    at XL; this is the same math with the passes shared.

    Exactness: a chunk's first local run fuses with the previous
    nonempty chunk's last run iff their types match (runs are
    consecutive-in-stream by construction — chunk ids are monotone in
    (ts, event_id) order, equal-ts ties share a chunk), and the
    renumber is the sessionize closed form: global id = prefix + local
    id - fused with prefix = SUM(starts - fused) over prior chunks
    (a fused-through chunk contributes 0).  Identity to the registered
    rn-diff spelling is asserted at tiny chunk widths (many seams), in
    the hybrid tests, and on the XL hot twin."""
    from osm2orc_spark.operators.cache import release_with

    ms = F.unix_millis("ts")
    evc = ev.withColumn("_chunk", F.floor(ms / F.lit(chunk_ms)).cast("bigint"))
    wl = W.partitionBy("user_id", "_chunk").orderBy("ts", "event_id")
    flagged = evc.withColumn("_prev", F.lag("event_type").over(wl)).withColumn(
        "_f",
        F.when(
            F.col("_prev").isNull() | (F.col("event_type") != F.col("_prev")), 1
        ).otherwise(0),
    )
    local = flagged.withColumn(
        "_lrid", F.sum("_f").over(wl.rowsBetween(W.unboundedPreceding, 0)).cast("bigint")
    )
    # One row per LOCAL run; persisted — it feeds both the stitch build
    # and the final join (Catalyst does not dedup identical subtrees).
    lruns = local.groupBy("user_id", "_chunk", "_lrid", "event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("ts").alias("_min_ts"),
        F.min("event_id").alias("_min_eid"),
    ).persist()
    csum = lruns.groupBy("user_id", "_chunk").agg(
        F.max("_lrid").alias("starts"),
        F.min_by("event_type", "_lrid").alias("first_type"),
        F.max_by("event_type", "_lrid").alias("last_type"),
    )
    wc = W.partitionBy("user_id").orderBy("_chunk")
    stitched = csum.select(
        "user_id",
        "_chunk",
        "starts",
        # lag NULL (first nonempty chunk) -> condition NULL -> 0: no fuse.
        F.when(F.col("first_type") == F.lag("last_type").over(wc), 1)
        .otherwise(0)
        .alias("fused"),
    ).withColumn(
        "prefix",
        F.coalesce(
            F.sum(F.col("starts") - F.col("fused")).over(
                wc.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    return release_with(
        lruns.join(
            stitched.select("user_id", "_chunk", "fused", "prefix"),
            ["user_id", "_chunk"],
        )
        .groupBy(
            "user_id",
            "event_type",
            (F.col("prefix") + F.col("_lrid") - F.col("fused")).alias("_rid"),
        )
        .agg(
            F.sum("_n").alias("run_len"),
            F.min("_min_ts").alias("run_start"),
            F.min("_min_eid").alias("first_event_id"),
        )
        .filter(F.col("run_len") >= 3)
        .select("user_id", "event_type", "run_len", "run_start", "first_event_id"),
        lruns,
    )


def _asof_next_chunked_core(ev: DataFrame, chunk_ms: int) -> DataFrame:
    """Forward as-of via chunked running last over the DESC scan: the
    carry-in from later chunks replaces the unbounded ignore-nulls
    window."""
    from osm2orc_spark.operators.chunked import chunked_running_last

    tagged = _asof_next_tagged(ev)
    d = chunked_running_last(
        tagged,
        "user_id",
        ["e_id", "e_ts"],
        ("ts", "is_p", "event_id"),
        chunk_ms,
        desc=True,
    )
    return (
        d.filter((F.col("is_p") == 1) & F.col("run_e_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
            F.col("run_e_id").alias("next_event_id"),
            F.col("run_e_ts").alias("next_event_ts"),
        )
    )


def _scd2_chunked_core(ev: DataFrame, chunk_ms: int) -> DataFrame:
    """Fully-fused chunked SCD2 front end: prev_band, the global row
    number AND n_user all arrive through ONE chunk pass + ONE bounded
    summary join — n_user is SUM(per-chunk counts) over the user's
    summary rows, so the separate event-level groupBy + change-stream
    join the two-primitive spelling paid (a full exchange each on
    band-flappy data, where changes are most rows) disappears.  The
    change-stream lead stays a chunked_prev over the DESC order."""
    from osm2orc_spark.operators.chunked import _with_chunk, chunked_prev

    d = _with_chunk(ev, "ts", chunk_ms, False)
    wl = W.partitionBy("user_id", "_chunk").orderBy("ts", "event_id")
    out = d.withColumn("_rn", F.row_number().over(wl)).withColumn(
        "_inprev", F.lag("band").over(wl)
    )
    ord_struct = F.struct(F.col("ts"), F.col("event_id"))
    summ = d.groupBy("user_id", "_chunk").agg(
        F.count(F.lit(1)).alias("_cnt"),
        # struct-wrapped so a NULL last value would still carry (bands
        # are non-null here; kept for the primitive-parity argument)
        F.max_by(F.struct(F.col("band")), ord_struct)["band"].alias("_last"),
    )
    wc = W.partitionBy("user_id").orderBy("_chunk")
    summ = summ.select(
        "user_id",
        "_chunk",
        F.coalesce(
            F.sum("_cnt").over(wc.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("_off"),
        F.lag("_last").over(wc).alias("_carry"),
        F.sum("_cnt").over(W.partitionBy("user_id")).alias("n_user"),
    )
    j = out.join(summ, ["user_id", "_chunk"], "left")
    prev_band = F.when(F.col("_rn") == 1, F.col("_carry")).otherwise(
        F.col("_inprev")
    )
    changes = j.filter(prev_band.isNull() | (F.col("band") != prev_band)).select(
        "user_id",
        "band",
        F.col("ts").alias("valid_from"),
        (F.col("_off") + F.col("_rn")).alias("rn"),
        "n_user",
    )
    led = chunked_prev(
        changes, "user_id", ["valid_from", "rn"], ("valid_from", "rn"), chunk_ms, desc=True
    )
    return led.select(
        "user_id",
        "band",
        "valid_from",
        F.col("prev_valid_from").alias("valid_to"),
        (F.coalesce(F.col("prev_rn"), F.col("n_user") + 1) - F.col("rn"))
        .cast("bigint")
        .alias("n_events"),
        F.col("prev_valid_from").isNull().alias("is_current"),
    )
