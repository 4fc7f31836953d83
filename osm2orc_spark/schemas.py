"""Fixed schemas for the three OSM tables.

Spark StructType equivalents of the reference's hardcoded ORC
TypeDescription literals:

- planet / planet_history: reference standalone/OsmPbf2Orc.java:58-82 and
  osmosis/OrcWriter.java:48-72 (identical schema; history additionally
  carries visible=false rows and multiple versions per (type,id)).
- changesets: reference standalone/OsmChangesetXml2Orc.java:42-58, field
  semantics from standalone/model/Changeset.java:11-23.

Type mapping notes (SURVEY.md §1.4):
- DECIMAL(9,7) for lat, DECIMAL(10,7) for lon — one extra integer digit
  for the ±180 range (OsmPbf2Orc.java:65-66).
- nds is ARRAY<STRUCT<ref:BIGINT>> (array-of-struct, not array-of-bigint,
  for Athena compatibility — reference README.md:16).
- members is ARRAY<STRUCT<type,ref,role>> with lowercase member type
  (OsmPbf2Orc.java:253-269) and role possibly '' (never NULL).
- TIMESTAMP columns assume a UTC session timezone
  (OsmPbf2Orc.java:56 pins the JVM default TZ to UTC).
"""

from __future__ import annotations

from pyspark.sql import types as T

LAT_TYPE = T.DecimalType(9, 7)
LON_TYPE = T.DecimalType(10, 7)

ND_TYPE = T.StructType([T.StructField("ref", T.LongType())])
MEMBER_TYPE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("ref", T.LongType()),
        T.StructField("role", T.StringType()),
    ]
)

PLANET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("lat", LAT_TYPE),
        T.StructField("lon", LON_TYPE),
        T.StructField("nds", T.ArrayType(ND_TYPE)),
        T.StructField("members", T.ArrayType(MEMBER_TYPE)),
        T.StructField("changeset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("uid", T.LongType()),
        T.StructField("user", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("visible", T.BooleanType()),
    ]
)

CHANGESET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("open", T.BooleanType()),
        T.StructField("closed_at", T.TimestampType()),
        T.StructField("comments_count", T.LongType()),
        T.StructField("min_lat", LAT_TYPE),
        T.StructField("max_lat", LAT_TYPE),
        T.StructField("min_lon", LON_TYPE),
        T.StructField("max_lon", LON_TYPE),
        T.StructField("num_changes", T.LongType()),
        T.StructField("uid", T.LongType()),
        T.StructField("user", T.StringType()),
    ]
)

# Raw (pre-cast) changeset attribute schema: bbox values stay STRINGS
# through parsing so the decimal cast never routes through a double
# (reference keeps them as strings in the bean and converts via
# BigDecimal — OsmChangesetXml2Orc.java:142-171, model/Changeset.java:32-35).
CHANGESET_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("created_at", T.StringType()),
        T.StructField("open", T.StringType()),
        T.StructField("closed_at", T.StringType()),
        T.StructField("comments_count", T.LongType()),
        T.StructField("min_lat", T.StringType()),
        T.StructField("max_lat", T.StringType()),
        T.StructField("min_lon", T.StringType()),
        T.StructField("max_lon", T.StringType()),
        T.StructField("num_changes", T.LongType()),
        T.StructField("uid", T.LongType()),
        T.StructField("user", T.StringType()),
    ]
)

# Changeset discussion (the reference's explicit TODO —
# OsmPbf2Orc.java:193-195: "changesets also include discussion, which is
# a list of comments (date, uid, user, text)").  OPT-IN: the default
# changeset schema above stays field-identical to the reference's ORC
# schema; read_changesets(include_discussion=True) appends `comments`.
# Comment dates stay STRINGS through parsing (same discipline as
# created_at/closed_at: the typed projection owns the cast, NULL on
# absence/parse failure); uid is nullable — anonymous commenters exist.
CHANGESET_COMMENT_TYPE = T.StructType(
    [
        T.StructField("date", T.TimestampType()),
        T.StructField("uid", T.LongType()),
        T.StructField("user", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
CHANGESET_COMMENT_RAW_TYPE = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("uid", T.LongType()),
        T.StructField("user", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
CHANGESET_DISCUSSION_RAW_SCHEMA = T.StructType(
    list(CHANGESET_RAW_SCHEMA.fields)
    + [T.StructField("comments", T.ArrayType(CHANGESET_COMMENT_RAW_TYPE))]
)
CHANGESET_DISCUSSION_SCHEMA = T.StructType(
    list(CHANGESET_SCHEMA.fields)
    + [T.StructField("comments", T.ArrayType(CHANGESET_COMMENT_TYPE))]
)
