"""Property-based round-trip for the changeset XML writer/parser
(SURVEY.md §5.4): random changesets — including XML-hostile user names
and tag k/v (&, <, ", unicode) — render to XML, parse back, and must
match field-for-field. The round-trips are pure parser level (no Spark)
so hypothesis can run many cases quickly; one Spark-level property reads
the same XML split into tiny pieces and checks it against one whole-file
parse."""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osm2orc_spark.fixtures import changesets_xml
from osm2orc_spark.sources.changeset_xml import (
    _raw_schema,
    _typed,
    parse_changeset_stream,
    read_changesets,
)

nasty_text = st.text(
    alphabet=st.characters(
        whitelist_categories=("L", "N", "P", "Zs", "S"),
        whitelist_characters='&<>"\'',
    ),
    min_size=1,
    max_size=25,
)
coord = st.integers(min_value=-90 * 10**7, max_value=90 * 10**7).map(
    lambda v: f"{'-' if v < 0 else ''}{abs(v) // 10**7}.{abs(v) % 10**7:07d}"
)
_CHANGESET_FIELDS = {
        "id": st.integers(min_value=1, max_value=2**40),
        "created_at": st.one_of(st.none(), st.integers(0, 2**31 - 1)),
        "closed_at": st.one_of(st.none(), st.integers(0, 2**31 - 1)),
        "open": st.booleans(),
        "uid": st.one_of(st.none(), st.integers(1, 2**31)),
        "user": st.one_of(st.none(), nasty_text),
        "min_lat": st.one_of(st.none(), coord),
        "min_lon": st.one_of(st.none(), coord),
        "max_lat": st.one_of(st.none(), coord),
        "max_lon": st.one_of(st.none(), coord),
        "num_changes": st.integers(0, 10**6),
        "comments_count": st.integers(0, 10**4),
        "tags": st.dictionaries(nasty_text, nasty_text, max_size=4),
}
changeset = st.fixed_dictionaries(_CHANGESET_FIELDS)


comment_text = st.text(
    alphabet=st.characters(
        whitelist_categories=("L", "N", "P", "Zs", "S"),
        whitelist_characters='&<>"\'\n',
    ),
    max_size=40,
)
comment = st.fixed_dictionaries(
    {
        "date": st.integers(0, 2**31 - 1),
        "uid": st.one_of(st.none(), st.integers(1, 2**31)),
        "user": st.one_of(st.none(), nasty_text),
        "text": comment_text,
    }
)
changeset_with_discussion = st.fixed_dictionaries(
    {**_CHANGESET_FIELDS, "discussion": st.lists(comment, max_size=4)}
)


@settings(max_examples=200, deadline=None)
@given(st.lists(changeset, min_size=0, max_size=8))
def test_xml_roundtrip(rows):
    xml = changesets_xml(rows)
    parsed = list(parse_changeset_stream("t.xml", xml.encode("utf-8")))
    assert len(parsed) == len(rows)
    for want, got in zip(rows, parsed):
        assert got["id"] == want["id"]
        assert got["open"] == ("true" if want["open"] else "false")
        assert got["uid"] == want["uid"]
        assert got["user"] == want["user"]
        assert got["num_changes"] == want["num_changes"]
        assert got["comments_count"] == want["comments_count"]
        assert got["tags"] == want["tags"]
        for k in ("min_lat", "min_lon", "max_lat", "max_lon"):
            assert got[k] == want[k]
        # timestamps survive as the exact ISO strings the writer rendered
        for k in ("created_at", "closed_at"):
            assert (got[k] is None) == (want[k] is None)


@settings(max_examples=200, deadline=None)
@given(st.lists(changeset_with_discussion, min_size=0, max_size=6))
def test_xml_discussion_roundtrip(rows):
    """Opt-in discussion surface (reference TODO OsmPbf2Orc.java:193-195):
    comments — including XML-hostile text, newlines, anonymous
    commenters, empty text — render inside <discussion> and parse back
    field-for-field; the DEFAULT parse of the same XML is unchanged
    (no comments key, every other field identical)."""
    import datetime as dt

    def iso(sec):
        return dt.datetime.fromtimestamp(sec, dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )

    xml = changesets_xml(rows).encode("utf-8")
    parsed = list(parse_changeset_stream("t.xml", xml, include_discussion=True))
    assert len(parsed) == len(rows)
    for want, got in zip(rows, parsed):
        assert got["comments"] == [
            {
                "date": iso(c["date"]),
                "uid": c["uid"],
                "user": c["user"],
                # XML parsers normalize \r\n -> \n; our strategy only
                # emits \n so the text survives byte-for-byte
                "text": c["text"],
            }
            for c in want["discussion"]
        ]
        assert got["tags"] == want["tags"]
        assert got["comments_count"] == want["comments_count"]
    plain = list(parse_changeset_stream("t.xml", xml))
    assert len(plain) == len(rows)
    for with_d, without in zip(parsed, plain):
        assert "comments" not in without
        assert {k: v for k, v in with_d.items() if k != "comments"} == without


_split_file_ids = itertools.count()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(changeset_with_discussion, min_size=1, max_size=6))
def test_tiny_splits_equal_whole_file_parse(spark, spark_conf, tmp_path_factory, rows):
    """Spark's file splits cut the XML every few hundred bytes, so split
    boundaries land inside tags, attribute values and discussions; the
    split-parallel reader must still return exactly the rows of one
    whole-file parse, discussions included."""
    import json

    spark_conf("spark.sql.files.maxPartitionBytes", "256")
    xml = changesets_xml(rows).encode("utf-8")
    path = tmp_path_factory.getbasetemp() / f"split_{next(_split_file_ids)}.osm.xml"
    path.write_bytes(xml)

    def canon(df):
        return sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in df.collect()
        )

    got = read_changesets(spark, str(path), include_discussion=True)
    assert got.rdd.getNumPartitions() == -(-len(xml) // 256)
    whole = list(parse_changeset_stream(path.name, xml, include_discussion=True))
    want = _typed(spark.createDataFrame(whole, _raw_schema(True)))
    assert canon(got) == canon(want)
