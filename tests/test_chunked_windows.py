"""Split-and-stitch window family: exactness of the chunked primitives
and of the registered window queries' chunked paths.

The xl_event_windows sweep measured the per-user window family blowing
up 3-6x on a 2x10^6-row hot user; the cure (operators/chunked.py) must
be OUTPUT-IDENTICAL — the primitives are checked directly against the
unbounded-window spelling they replace, and every registered query's
forced chunked path against its window path.  A tiny chunk width
(forcing MANY seams through the stitch paths) is used alongside the
default, so seam handling is exercised even at sf0.01 where the default
1 h chunk may leave few boundaries.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from osm2orc_spark.operators.chunked import chunked_prev, chunked_running_last
from osm2orc_spark.tables import load

# 1-minute chunks: the sf0.01 event stream spans days, so every user
# crosses many seams — the stitch paths do real work.
TINY_CHUNK_MS = 60_000


@pytest.fixture(scope="module")
def events(spark, sf_correctness):
    return load(spark, sf_correctness, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )


@pytest.mark.parametrize("chunk_ms", [TINY_CHUNK_MS, 3_600_000])
def test_chunked_prev_equals_lag(spark, events, chunk_ms):
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    exp = events.select(
        "user_id", "event_id", F.lag("event_type").over(w).alias("p")
    )
    got = chunked_prev(
        events, "user_id", ["event_type"], ("ts", "event_id"), chunk_ms
    ).select("user_id", "event_id", F.col("prev_event_type").alias("p"))
    assert exp.exceptAll(got).count() == 0
    assert got.exceptAll(exp).count() == 0


@pytest.mark.parametrize("chunk_ms", [TINY_CHUNK_MS, 3_600_000])
def test_chunked_running_last_desc_equals_window(spark, events, chunk_ms):
    d = events.withColumn(
        "is_p", (F.col("event_type") == "purchase").cast("int")
    ).withColumn(
        "e_id", F.when(F.col("event_type") != "purchase", F.col("event_id"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("is_p"), F.desc("event_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    exp = d.select(
        "user_id", "event_id", F.last("e_id", ignorenulls=True).over(w).alias("r")
    )
    got = chunked_running_last(
        d, "user_id", ["e_id"], ("ts", "is_p", "event_id"), chunk_ms, desc=True
    ).select("user_id", "event_id", F.col("run_e_id").alias("r"))
    assert exp.exceptAll(got).count() == 0
    assert got.exceptAll(exp).count() == 0


# Window-family queries whose chunked spelling takes a chunk width; the
# id names the spelling under test (query + its chunked path).
_CHUNKED_SPELLINGS = [
    pytest.param(name, id=f"{name}-{name}_chunked")
    for name in (
        "window_lag_transitions",
        "event_transitions",
        "event_run_islands",
        "asof_join_next_event",
        "scd2_user_value_bands",
        "asof_join_last_purchase",
    )
]


@pytest.mark.parametrize("name", _CHUNKED_SPELLINGS)
@pytest.mark.parametrize("chunk_ms", [TINY_CHUNK_MS, None])
def test_chunked_variant_identical_to_registered(
    spark, sf_correctness, name, chunk_ms, monkeypatch
):
    """The registered query forced down its all-chunked path (every
    non-null key through the split-and-stitch core) at ``chunk_ms``
    (None: the core's default width) equals its window path."""
    from osm2orc_spark.operators import switches
    from osm2orc_spark.registry import all_queries

    fn = all_queries()[name].fn
    reg = fn(spark, sf_correctness)
    switches.probe_cache_clear()
    monkeypatch.setattr(switches, "HOT_KEY_ROWS", 0)
    monkeypatch.setattr(switches, "HOT_KEY_MAX_LIST", 0)
    monkeypatch.setattr(
        switches,
        "burst_chunk_ms",
        lambda spark, sf_dir, default_ms: chunk_ms or default_ms,
    )
    assert switches.window_strategy(spark, sf_correctness)[0] == "chunked"
    chk = fn(spark, sf_correctness)
    n_reg, n_chk = reg.count(), chk.count()
    assert n_reg > 0
    assert n_reg == n_chk
    assert reg.exceptAll(chk.select(*reg.columns)).count() == 0
    assert chk.select(*reg.columns).exceptAll(reg).count() == 0


# ---------------------------------------------------------------------------
# Property-based exactness: the primitives must equal their unbounded-
# window spellings on ARBITRARY streams — NULL values, timestamp ties
# (same chunk by construction), empty chunks, single-row users — at a
# seam-heavy chunk width AND one so large everything shares one chunk
# (the degenerate case where the stitch must be a no-op).
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # user_id
        st.integers(min_value=0, max_value=40),           # ts slot (ties likely)
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),  # value
        st.sampled_from(["a", "b", None]),                # type (lag payload)
    ),
    min_size=1,
    max_size=25,
)


@given(rows=_rows, chunk_ms=st.sampled_from([7, 1_000_000]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunked_primitives_equal_windows_property(spark, rows, chunk_ms):
    df = spark.createDataFrame(
        [(u, ts * 3, i, v, t) for i, (u, ts, v, t) in enumerate(rows)],
        "user_id int, ms long, event_id long, v int, t string",
    ).select(
        "user_id",
        F.timestamp_millis("ms").alias("ts"),
        "event_id",
        "v",
        "t",
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, 0)
    exp = df.select(
        "user_id",
        "event_id",
        F.lag("t").over(w).alias("p"),
        F.last("v", ignorenulls=True).over(wf).alias("rl"),
    ).collect()
    got_p = chunked_prev(df, "user_id", ["t"], ("ts", "event_id"), chunk_ms)
    got_l = chunked_running_last(df, "user_id", ["v"], ("ts", "event_id"), chunk_ms)
    by_id = {}
    for r in got_p.collect():
        by_id[r.event_id] = [r.prev_t]
    for r in got_l.collect():
        by_id[r.event_id].append(r.run_v)
    for r in exp:
        assert by_id[r.event_id] == [r.p, r.rl], (
            r.event_id, by_id[r.event_id], (r.p, r.rl))


# --- ghost-replication trailing RANGE frame (r10 scale-killer #12) --------


def test_rolling_hour_ghost_core_equals_window(spark, events):
    from osm2orc_spark.queries.advanced import (
        _rolling_hour_chunked_core,
        _rolling_hour_window_core,
    )

    ev = events.filter(F.col("user_id").isNotNull())
    a = sorted(tuple(r) for r in _rolling_hour_window_core(ev).collect())
    b = sorted(tuple(r) for r in _rolling_hour_chunked_core(ev).collect())
    assert len(a) > 0
    assert a == b


def test_rolling_hour_ghost_core_boundaries(spark):
    """Adversarial seams: rows exactly ONE FRAME apart (inclusive RANGE
    boundary), same-timestamp ties, chunk-boundary adjacency, and NULL
    values — frame membership must match the flat window exactly."""
    import datetime as dt

    from osm2orc_spark.queries.advanced import (
        ROLLING_FRAME_US,
        _rolling_hour_chunked_core,
        _rolling_hour_window_core,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    frame_s = ROLLING_FRAME_US // 1_000_000
    offsets = [
        0, 1, 1,                       # ties at the chunk start
        frame_s - 1, frame_s, frame_s + 1,   # the inclusive boundary
        2 * frame_s, 2 * frame_s,      # seam ties
        3 * frame_s - 1, 3 * frame_s + 7200,  # a gap past one chunk
    ]
    rows = [
        (i, 1, base + dt.timedelta(seconds=o), float(i % 3) if i % 4 else None)
        for i, o in enumerate(offsets)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    a = sorted(tuple(r) for r in _rolling_hour_window_core(ev).collect())
    b = sorted(tuple(r) for r in _rolling_hour_chunked_core(ev).collect())
    assert a == b
