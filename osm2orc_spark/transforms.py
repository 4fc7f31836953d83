"""Row-level cell semantics (SURVEY.md §2B) as reusable column expressions.

Each function reproduces one reference transform exactly; citations point
at the behavior being matched, the implementation is Spark-native.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from osm2orc_spark.schemas import LAT_TYPE, LON_TYPE


def bbox_decimal_from_string(col: Column, lon: bool = False) -> Column:
    """B4: decimal parsed FROM STRING, never through a double — Spark's
    string->decimal cast is exact (reference routes changeset bbox values
    through BigDecimal(String), OsmChangesetXml2Orc.java:142-171)."""
    return col.cast(LON_TYPE if lon else LAT_TYPE)


def optional_timestamp(col: Column) -> Column:
    """B6: ISO-8601 string -> TIMESTAMP; absent/unparseable -> NULL
    (OsmChangesetXml2Orc.java:107-121; ChangesetElementProcessor.java:45-53).
    try_to_timestamp mirrors the reference's parse-failure-is-null."""
    return F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))


def open_flag(col: Column) -> Column:
    """B12: string 'true' compare -> boolean
    (ChangesetElementProcessor.java:55)."""
    return col == F.lit("true")
