"""Data-layout operators: Z-order clustering keys and size-targeted
compaction.

Neither exists in the reference (it writes ORC in arrival order,
`standalone/OsmPbf2Orc.java:119-120` notes parallelism was rejected to
keep files big) — but at 100 TB, layout IS the query optimizer's best
lever: parquet/ORC row-group min/max stats only prune when the data is
clustered on the filtered columns, and a petabyte of small files is a
metadata outage. These operators are the standard fixes:

- ``zorder_key(a, b)`` — interleave the low 16 bits of two integer
  columns into one BIGINT. Sorting by it clusters BOTH dimensions at
  once, so range filters on either column skip most row groups. Pure
  bit arithmetic (16 unrolled shift/mask terms), identical in any
  engine — the registered query has a full DuckDB oracle.
- ``compact`` — rewrite a DataFrame into ceil(input_bytes / target)
  output files via a round-robin repartition; the small-files fix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2orc_spark.registry import register
from osm2orc_spark.tables import load

Z_BITS = 16
Z_NORM_BITS = 8  # per-dimension rank width after min/max normalization


def zorder_key(a: Column, b: Column) -> Column:
    """Morton (Z-order) interleave of the low Z_BITS bits of two
    non-negative integer columns: bit i of ``a`` lands at position 2i,
    bit i of ``b`` at 2i+1. A single codegen-fused integer expression —
    no UDF — so it runs at scan speed as a sort key."""
    z = F.lit(0).cast("bigint")
    for i in range(Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def znorm(col: str, mn: str, mx: str) -> Column:
    """Min/max-normalize an integer column to a [0, 2^Z_NORM_BITS) rank
    so both interleaved dimensions contribute equally significant bits — raw
    interleave lets the wider-range dimension's high bits dominate the
    sort and the narrow dimension never clusters. Integer-exact:
    ((x - mn) << Z_NORM_BITS) DIV (mx - mn + 1). Takes column NAMES (the
    SQL DIV operator has no Column-API equivalent)."""
    scale = 1 << Z_NORM_BITS
    return F.expr(f"CAST((({col} - {mn}) * {scale}) DIV ({mx} - {mn} + 1) AS BIGINT)")


def _duck_zexpr(a: str, b: str) -> str:
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_key_events",
    oracle=f"""
    WITH src AS (
      SELECT event_id, user_id, CAST(floor(value * 100) AS BIGINT) AS value_c
      FROM events
    ),
    bounds AS (
      SELECT MIN(user_id) AS mn_u, MAX(user_id) AS mx_u,
             MIN(value_c) AS mn_v, MAX(value_c) AS mx_v
      FROM src
    ),
    ranked AS (
      SELECT event_id, user_id, value_c,
             ((user_id - mn_u) * {1 << Z_NORM_BITS}) // (mx_u - mn_u + 1) AS u_n,
             ((value_c - mn_v) * {1 << Z_NORM_BITS}) // (mx_v - mn_v + 1) AS v_n
      FROM src, bounds
    )
    SELECT event_id, user_id, value_c,
           CAST({_duck_zexpr("u_n", "v_n")} AS BIGINT) AS zvalue
    FROM ranked
    """,
    doc="Z-order clustering key over (user_id, value): Morton-interleave "
    f"the low {Z_BITS} bits of both dimensions into one BIGINT sort key. "
    "Writing data sorted by this key clusters row groups in BOTH "
    "dimensions simultaneously, so min/max stats prune range filters on "
    "either column — the standard multi-dimensional data-skipping "
    "layout (Delta/Iceberg OPTIMIZE ZORDER). Both dimensions are first "
    "min/max-normalized to equal-width integer ranks (integer-exact "
    "shift/DIV; the bounds aggregate broadcasts) — raw interleave lets "
    "the wider-range dimension monopolize the significant bits. The key "
    "is 32 unrolled shift/mask terms, codegen-fused, bit-identical "
    "across engines; value is quantized floor(x*100) to cents first. The query "
    "itself is a narrow projection — the interesting part is the layout "
    "test (tests/test_advanced.py) showing per-file value ranges shrink "
    "vs arrival order.",
    tags=("layout",),
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    bounds = src.agg(
        F.min("user_id").alias("mn_u"),
        F.max("user_id").alias("mx_u"),
        F.min("value_c").alias("mn_v"),
        F.max("value_c").alias("mx_v"),
    )
    ranked = src.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        "value_c",
        znorm("user_id", "mn_u", "mx_u").alias("u_n"),
        znorm("value_c", "mn_v", "mx_v").alias("v_n"),
    )
    return ranked.select(
        "event_id",
        "user_id",
        "value_c",
        zorder_key(F.col("u_n"), F.col("v_n")).alias("zvalue"),
    )


def compact(df: DataFrame, target_bytes: int = 128 * 1024 * 1024) -> DataFrame:
    """Small-files compaction: repartition to ceil(input_bytes / target)
    round-robin partitions so each output file lands near the target
    size. Input size comes from the optimized plan's statistics (parquet
    footer-backed for file scans — no data pass). Round-robin (not hash)
    keeps output sizes uniform regardless of key skew; use a z-ordered
    sortWithinPartitions on top when data-skipping also matters."""
    stats_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n = max(1, -(-stats_bytes // target_bytes))
    return df.repartition(n)
