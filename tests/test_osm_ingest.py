"""Ingest golden tests (SURVEY.md §5.2): PBF and changeset-XML fixtures
through the sources, asserting every §2B cell-semantics edge case."""

from __future__ import annotations

import datetime as dt
import pathlib
from decimal import Decimal

import pytest

from osm2orc_spark.fixtures import (
    changeset_rows,
    changesets_xml,
    planet_history_entities,
    write_pbf_fixture,
    write_xml_fixture,
)
from osm2orc_spark.sinks.orc import read_metadata, write_orc
from osm2orc_spark.sources.changeset_xml import (
    NotAChangesetFileError,
    _raw_schema,
    _typed,
    parse_changeset_stream,
    read_changesets,
)
from osm2orc_spark.sources.pbf import read_pbf, read_pbf_bounds


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pbf") / "tiny.osm.pbf"
    write_pbf_fixture(str(p))
    return str(p)


@pytest.fixture(scope="module")
def xml_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("xml") / "changesets.osm.xml"
    write_xml_fixture(str(p))
    return str(p)


@pytest.fixture(scope="module")
def planet(spark, pbf_path):
    df = read_pbf(spark, pbf_path)
    df.cache()
    df.count()
    return df


class TestPbf:
    def test_row_count_matches_fixture(self, planet):
        assert planet.count() == len(planet_history_entities())

    def test_bounds_header(self, pbf_path):
        left, bottom, right, top = read_pbf_bounds(pbf_path)
        assert (left, bottom, right, top) == (-74.06, 40.68, -74.03, 40.70)

    def test_types_lowercase(self, planet):
        types = {r["type"] for r in planet.select("type").distinct().collect()}
        assert types == {"node", "way", "relation"}

    def test_node_coords_exact_decimal(self, planet):
        # Liberty node has full 7-decimal coordinates (B2/B4 exactness)
        row = planet.filter("id = 1202 and type = 'node'").first()
        assert row["lat"] == Decimal("40.6892494")
        assert row["lon"] == Decimal("-74.0445004")

    def test_way_relation_null_coords(self, planet):
        # B3: explicit NULL lat/lon for ways/relations
        assert planet.filter("type != 'node' and (lat is not null or lon is not null)").count() == 0

    def test_collections_never_null(self, planet):
        # B11: tags/nds/members are empty, never NULL
        assert planet.filter("tags is null or nds is null or members is null").count() == 0

    def test_zero_nd_way_and_big_way(self, planet):
        assert planet.filter("id = 10001 and type = 'way'").first()["nds"] == []
        big = planet.filter("id = 10002 and type = 'way' and version = 1").first()
        assert len(big["nds"]) == 2100  # batch-boundary stress (FIXTURES.md)

    def test_nds_shape_and_order(self, planet):
        # B9: array-of-struct, file order preserved
        fixture = {
            (e["id"], e["version"]): e
            for e in planet_history_entities()
            if e["type"] == "way"
        }
        row = planet.filter("id = 10003 and type = 'way' and version = 1").first()
        expected = fixture[(10003, 1)]["nds"]
        assert [nd["ref"] for nd in row["nds"]] == expected
        assert expected[-1] == 999_999  # dangling ref survives

    def test_members_shape(self, planet):
        # B10: ordered structs, lowercase type, role may be ''
        row = planet.filter("id = 20002 and type = 'relation'").first()
        ms = [(m["type"], m["ref"], m["role"]) for m in row["members"]]
        fixture = [
            e for e in planet_history_entities() if e["id"] == 20002 and e["type"] == "relation"
        ][0]["members"]
        assert ms == fixture
        assert any(r == "" for _, _, r in ms)

    def test_zero_member_relation(self, planet):
        assert planet.filter("id = 20001 and type = 'relation'").first()["members"] == []

    def test_history_versions_and_deletes(self, planet):
        hist = planet.filter("id = 10 and type = 'node'").orderBy("version").collect()
        assert len(hist) > 1
        assert hist[-1]["visible"] is False  # deleted last version
        assert all(h["visible"] for h in hist[:-1])

    def test_timestamp_utc_millis(self, planet):
        # B5: epoch millis, UTC; fixture base is 2015-01-01 + offsets
        e = [x for x in planet_history_entities() if x["id"] == 1 and x["version"] == 1][0]
        row = planet.filter("id = 1 and type = 'node' and version = 1").first()
        expected = dt.datetime.fromtimestamp(e["timestamp_ms"] / 1000, dt.timezone.utc)
        assert row["timestamp"].replace(tzinfo=dt.timezone.utc) == expected

    def test_tags_roundtrip(self, planet):
        e = [x for x in planet_history_entities() if x["id"] == 33 and x["version"] == 1][0]
        row = planet.filter("id = 33 and type = 'node' and version = 1").first()
        assert dict(row["tags"]) == e["tags"]


class TestChangesetXml:
    @pytest.fixture(scope="class")
    def cs(self, spark, xml_path):
        df = read_changesets(spark, xml_path)
        df.cache()
        df.count()
        return df

    def test_count(self, cs):
        assert cs.count() == len(changeset_rows())

    def test_open_changeset_null_closed(self, cs):
        # open=true -> closed_at NULL (B6/B12)
        assert cs.filter("open = true and closed_at is not null").count() == 0
        assert cs.filter("open = true").count() > 0

    def test_anonymous(self, cs):
        # B7: nullable uid/user
        assert cs.filter("uid is null and user is null").count() > 0

    def test_bbox_exact_decimal(self, cs):
        rows = {r["id"]: r for r in changeset_rows()}
        some = cs.filter("min_lat is not null").limit(20).collect()
        assert some
        for r in some:
            exp = rows[r["id"]]
            assert r["min_lat"] == Decimal(exp["min_lat"]), (r["id"], exp)
            assert r["max_lon"] == Decimal(exp["max_lon"])

    def test_bboxless(self, cs):
        assert cs.filter(
            "min_lat is null and max_lat is null and min_lon is null and max_lon is null"
        ).count() > 0

    def test_tags_empty_map_not_null(self, cs):
        assert cs.filter("tags is null").count() == 0

    def test_created_at_parsed(self, cs):
        row = cs.filter("id = 1").first()
        assert row["created_at"] == dt.datetime(2015, 1, 1, 1, 0, 0)

    def test_malformed_root_raises(self):
        bad = b'<?xml version="1.0"?><notosm><changeset id="1"/></notosm>'
        with pytest.raises(NotAChangesetFileError):
            list(parse_changeset_stream("bad.xml", bad))

    def test_truncated_xml_raises_not_partial(self):
        """A truncated changeset file must fail LOUDLY (iterparse
        ParseError at end-of-stream), never yield a silently-shorter
        row set — the XML twin of the PBF corruption matrix."""
        import xml.etree.ElementTree as ET

        from osm2orc_spark.fixtures import changeset_rows, changesets_xml

        xml = changesets_xml(changeset_rows(n=50)).encode()
        with pytest.raises(ET.ParseError):
            list(parse_changeset_stream("trunc.xml", xml[: len(xml) // 2]))

    def test_stray_text_outside_comment_does_not_leak(self):
        """A <text> element outside any <comment> (malformed input) must
        not leak into a later comment's text (r13 advice: pending_text
        was only cleared at <comment> END, so a stray capture survived
        into the next comment, potentially in a later changeset)."""
        xml = (
            b'<?xml version="1.0"?><osm>'
            b'<changeset id="1" created_at="2015-01-01T00:00:00Z" open="false">'
            b"<text>stray</text>"
            b"</changeset>"
            b'<changeset id="2" created_at="2015-01-01T00:00:00Z" open="false">'
            b"<discussion><comment date=\"2015-01-02T00:00:00Z\" uid=\"7\" "
            b'user="u"><text>real</text></comment>'
            b'<comment date="2015-01-03T00:00:00Z" uid="8" user="v"/>'
            b"</discussion></changeset></osm>"
        )
        rows = list(
            parse_changeset_stream("stray.xml", xml, include_discussion=True)
        )
        assert rows[0]["comments"] == []
        texts = [c["text"] for c in rows[1]["comments"]]
        assert texts == ["real", None]


class TestChangesetDiscussion:
    """Opt-in discussion ingest (the reference's TODO,
    OsmPbf2Orc.java:193-195): comments ARRAY<STRUCT<date,uid,user,text>>
    through the full Spark pipeline."""

    @pytest.fixture(scope="class")
    def csd(self, spark, xml_path):
        df = read_changesets(spark, xml_path, include_discussion=True)
        df.cache()
        df.count()
        return df

    @staticmethod
    def _shape(schema):
        # names + types; nullability differs between the projection's
        # inferred flags and the declared schema and carries no
        # cell-semantics here
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    def test_schema(self, csd):
        from osm2orc_spark.schemas import CHANGESET_DISCUSSION_SCHEMA

        assert self._shape(csd.schema) == self._shape(CHANGESET_DISCUSSION_SCHEMA)

    def test_default_reader_schema_unchanged(self, spark, xml_path):
        from osm2orc_spark.schemas import CHANGESET_SCHEMA

        assert self._shape(read_changesets(spark, xml_path).schema) == self._shape(
            CHANGESET_SCHEMA
        )

    def test_counts_agree_with_attribute(self, csd):
        # fixture keeps comments_count and the discussion list in
        # agreement (the planet dump invariant)
        assert (
            csd.filter("size(comments) != comments_count").count() == 0
        )

    def test_empty_list_not_null(self, csd):
        assert csd.filter("comments is null").count() == 0
        assert csd.filter("size(comments) = 0").count() > 0

    def test_comment_fields_typed_and_values(self, csd):
        import datetime as dt

        rows = {r["id"]: r for r in changeset_rows()}
        some = csd.filter("size(comments) > 0").limit(20).collect()
        assert some
        for r in some:
            want = rows[r["id"]]["discussion"]
            got = r["comments"]
            assert len(got) == len(want)
            for g, w in zip(got, want):
                assert g["date"] == dt.datetime.fromtimestamp(
                    w["date"], dt.timezone.utc
                ).replace(tzinfo=None)
                assert g["uid"] == w["uid"]
                assert g["user"] == w["user"]
                assert g["text"] == w["text"]

    def test_anonymous_commenters(self, csd):
        from pyspark.sql import functions as F

        ex = csd.select(F.explode("comments").alias("c"))
        assert ex.filter("c.uid is null and c.user is null").count() > 0

    def test_stream_reader_carries_discussion_schema(self, spark, xml_path):
        """--watch must honor --with-discussion (r13 review: the flag was
        silently dropped on the streaming path)."""
        import os

        from osm2orc_spark.sources.changeset_xml import read_changesets_stream

        sdf = read_changesets_stream(
            spark, os.path.dirname(xml_path), include_discussion=True
        )
        assert "comments" in sdf.columns
        assert read_changesets_stream(spark, os.path.dirname(xml_path)).columns.count(
            "comments"
        ) == 0

    def test_cli_rejects_discussion_without_changesets(self):
        from osm2orc_spark.cli import main

        assert main(["--with-discussion", "in.pbf", "out"]) == 2


class TestChangesetSplits:
    """read_changesets cuts files at ``<changeset `` start tags along
    Spark's file splits; every split layout must return exactly the rows
    of the one-task read of the whole fixture."""

    @staticmethod
    def _rows(df):
        import json

        return sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in df.collect()
        )

    @pytest.fixture(scope="class")
    def want(self, spark, xml_path):
        df = read_changesets(spark, xml_path, include_discussion=True)
        assert df.rdd.getNumPartitions() == 1
        return self._rows(df)

    def test_glob_packed_into_one_task(self, spark, spark_conf, xml_path, want, tmp_path):
        import shutil

        other = changeset_rows(seed=7, n=60)
        shutil.copy(xml_path, tmp_path / "a.osm.xml")
        (tmp_path / "b.osm.xml").write_text(changesets_xml(other))
        only_b = read_changesets(spark, str(tmp_path / "b.osm.xml"), include_discussion=True)
        want_b = self._rows(only_b)
        spark_conf("spark.sql.files.minPartitionNum", "1")
        df = read_changesets(spark, str(tmp_path / "*.osm.xml"), include_discussion=True)
        assert df.rdd.getNumPartitions() == 1
        assert self._rows(df) == sorted(want + want_b)

    @pytest.mark.parametrize("streams", [1, 2], ids=["one_stream", "two_streams"])
    def test_bz2_splits_across_tasks(self, spark, spark_conf, xml_path, want, tmp_path, streams):
        import bz2

        from pyspark.sql import functions as F

        data = pathlib.Path(xml_path).read_bytes()
        path = tmp_path / "changesets.osm.xml.bz2"
        # 100k-byte bzip2 blocks: the fixture spans three, so a split can
        # start at a block of its own; parallel compressors (pbzip2,
        # lbzip2) write one stream per piece, concatenated
        cut = len(data) // streams
        path.write_bytes(b"".join(bz2.compress(data[i : i + cut], 1) for i in range(0, len(data), cut)))
        spark_conf("spark.sql.files.maxPartitionBytes", "8k")
        df = read_changesets(spark, str(path), include_discussion=True)
        assert df.select(F.spark_partition_id()).distinct().count() > 1
        assert self._rows(df) == want

    @staticmethod
    def _assert_parse_error(read):
        """``read()`` fails with a ParseError: at read time when the file
        is checked on the driver, else in the task that parses its end."""
        import xml.etree.ElementTree as ET

        with pytest.raises(Exception) as err:
            read().collect()
        assert err.type is ET.ParseError or "ParseError" in str(err.value)

    @staticmethod
    def _truncated(xml_path) -> bytes:
        """The fixture cut right after a ``</changeset>``: every record is
        well-formed, only the root's close is missing."""
        data = pathlib.Path(xml_path).read_bytes()
        return data[: data.rindex(b"</changeset>\n") + len(b"</changeset>\n")]

    @pytest.mark.parametrize(
        "codec, split",
        [("", None), ("", "256"), (".bz2", "8k"), (".gz", "8k")],
        ids=["one_split", "tiny_splits", "bz2_splits", "gz"],
    )
    def test_truncated_file_fails(self, spark, spark_conf, xml_path, tmp_path, codec, split):
        import bz2
        import gzip

        data = self._truncated(xml_path)
        compress = {"": bytes, ".bz2": lambda d: bz2.compress(d, 1), ".gz": gzip.compress}
        path = tmp_path / f"changesets.osm.xml{codec}"
        path.write_bytes(compress[codec](data))
        if split:
            spark_conf("spark.sql.files.maxPartitionBytes", split)
        self._assert_parse_error(lambda: read_changesets(spark, str(path)))

    @pytest.mark.parametrize("truncated", [False, True], ids=["whole", "truncated"])
    def test_last_split_inside_last_record(self, spark, spark_conf, xml_path, want, tmp_path, truncated):
        """Two splits, the second starting inside the file's last record:
        that split reads no record, and the first split's task reads the
        last record without knowing it is the last."""
        data = self._truncated(xml_path) if truncated else pathlib.Path(xml_path).read_bytes()
        path = tmp_path / "changesets.osm.xml"
        path.write_bytes(data)
        last = data.rindex(b"<changeset ") + len(b"<changeset ")
        assert 2 * (last + 5) > len(data)
        spark_conf("spark.sql.files.maxPartitionBytes", str(last + 5))
        if truncated:
            self._assert_parse_error(lambda: read_changesets(spark, str(path)))
        else:
            df = read_changesets(spark, str(path), include_discussion=True)
            assert df.rdd.getNumPartitions() == 2
            assert self._rows(df) == want

    @pytest.mark.parametrize("split", [None, "256"], ids=["one_split", "tiny_splits"])
    def test_declared_encoding_reaches_every_split(self, spark, spark_conf, tmp_path, split):
        """An ISO-8859-1 file parses the same whichever split a record
        falls in: the splits after the first get the file's declaration."""
        rows = changeset_rows(seed=3, n=30)
        for i, r in enumerate(rows):
            r["user"] = f"Jos\u00e9 M\u00fcller {i}"
        xml = (
            changesets_xml(rows)
            .replace('encoding="UTF-8"', 'encoding="ISO-8859-1"')
            .encode("latin-1", "xmlcharrefreplace")
        )
        # a space and a percent sign: file names reach the tasks URL-encoded
        (tmp_path / "latin 1%").mkdir()
        path = tmp_path / "latin 1%" / "changesets.osm.xml"
        path.write_bytes(xml)
        if split:
            spark_conf("spark.sql.files.maxPartitionBytes", split)
        df = read_changesets(spark, str(path))
        assert (df.rdd.getNumPartitions() > 1) == bool(split)
        assert sorted(r["user"] for r in df.collect()) == sorted(r["user"] for r in rows)
        whole = parse_changeset_stream(path.name, xml)
        assert self._rows(df) == self._rows(_typed(spark.createDataFrame(list(whole), _raw_schema(False))))

    def test_runs_span_arrow_batches(self, spark, spark_conf, xml_path, want, tmp_path):
        import shutil

        # 7-record Arrow batches cut every split's run, the head run too,
        # so only a split's first batch may see the file's prolog; the
        # copy keeps the read off any cached plan of the fixture path
        path = shutil.copy(xml_path, tmp_path / "changesets.osm.xml")
        spark_conf("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        spark_conf("spark.sql.files.maxPartitionBytes", "8k")
        df = read_changesets(spark, str(path), include_discussion=True)
        assert df.rdd.getNumPartitions() > 1
        assert self._rows(df) == want

    def test_gz_is_one_task(self, spark, spark_conf, xml_path, want, tmp_path):
        import gzip

        path = tmp_path / "changesets.osm.xml.gz"
        path.write_bytes(gzip.compress(pathlib.Path(xml_path).read_bytes()))
        spark_conf("spark.sql.files.maxPartitionBytes", "8k")
        df = read_changesets(spark, str(path), include_discussion=True)
        assert df.rdd.getNumPartitions() == 1
        assert self._rows(df) == want

    @pytest.mark.parametrize(
        "content, message",
        [
            (
                b'<?xml version="1.0"?><notosm><changeset id="1"/></notosm>',
                "root element <notosm> is not <osm>",
            ),
            (None, "bzip2/gzip content without a .bz2/.gz name"),
        ],
        ids=["wrong_root", "unnamed_bz2"],
    )
    @pytest.mark.parametrize("split", [None, "256"], ids=["one_split", "tiny_splits"])
    def test_not_a_changeset_file_raises(self, spark, spark_conf, xml_path, tmp_path, content, message, split):
        import bz2

        if content is None:
            content = bz2.compress(pathlib.Path(xml_path).read_bytes())
        path = tmp_path / "bad.osm.xml"
        path.write_bytes(content)
        if split:
            spark_conf("spark.sql.files.maxPartitionBytes", split)
        # raised on the driver when the file is checked there, else in a task
        with pytest.raises(Exception) as err:
            read_changesets(spark, str(path)).collect()
        assert err.type is NotAChangesetFileError or "NotAChangesetFileError" in str(err.value)
        assert message in str(err.value)

    @pytest.mark.parametrize(
        "content",
        [b'<?xml version="1.0"?>\n<osm version="0.6"/>\n', b"<osm version='0.6'>\n</osm>\n"],
        ids=["empty_root", "no_changesets"],
    )
    def test_file_without_changesets_reads_no_rows(self, spark, tmp_path, content):
        path = tmp_path / "empty.osm.xml"
        path.write_bytes(content)
        assert read_changesets(spark, str(path)).collect() == []

    def test_cdata_straddling_a_split_fails_loudly(self, spark, spark_conf, tmp_path):
        hidden = '<changeset id="0" ' * 100
        path = tmp_path / "cdata.osm.xml"
        path.write_text(
            '<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
            '  <changeset id="1" open="false" num_changes="1" comments_count="1">'
            '<discussion><comment date="2015-01-01T00:00:00Z">'
            f"<text><![CDATA[{hidden}]]></text></comment></discussion></changeset>\n"
            '  <changeset id="2" open="false" num_changes="1" comments_count="0"/>\n'
            "</osm>\n"
        )
        # one split: the records of a run rejoin losslessly, CDATA included
        rows = read_changesets(spark, str(path), include_discussion=True).collect()
        assert [(r["id"], [c["text"] for c in r["comments"]]) for r in sorted(rows)] == [
            (1, [hidden]),
            (2, []),
        ]
        spark_conf("spark.sql.files.maxPartitionBytes", "256")
        with pytest.raises(Exception, match="ParseError"):
            read_changesets(spark, str(path), include_discussion=True).collect()

    def test_cli_stdin_bz2(self, spark, xml_path, tmp_path, monkeypatch):
        import bz2
        import io
        import types

        from osm2orc_spark.cli import main

        data = bz2.compress(pathlib.Path(xml_path).read_bytes())
        monkeypatch.setattr("sys.stdin", types.SimpleNamespace(buffer=io.BytesIO(data)))
        out = str(tmp_path / "cs_orc")
        assert main(["--changesets", "-", out]) == 0
        assert self._rows(spark.read.orc(out)) == self._rows(read_changesets(spark, xml_path))


class TestOrcSink:
    def test_roundtrip_with_metadata(self, spark, planet, tmp_path):
        out = str(tmp_path / "planet.orc")
        write_orc(planet, out, bounds=(-74.06, 40.68, -74.03, 40.70))
        back = spark.read.orc(out)
        assert back.count() == planet.count()
        # ORC read-back marks everything nullable (incl. nested element
        # nullability); names+types must match, nullability flags may not
        assert back.schema.simpleString() == planet.schema.simpleString()
        meta = read_metadata(out)
        assert meta["osm.schema.version"] == "0.6"
        assert meta["bounds"] == "-74.06, 40.68, -74.03, 40.7"

    def test_user_metadata_in_orc_footer(self, spark, planet, tmp_path):
        """The reference stamps user metadata INTO the ORC file
        (OsmPbf2Orc.java:90,122-125); read it back through the JVM
        OrcFile.createReader API, not the sidecar."""
        from osm2orc_spark.sinks.orc import read_user_metadata

        out = str(tmp_path / "planet_meta.orc")
        write_orc(planet, out, bounds=(-74.06, 40.68, -74.03, 40.70))
        meta = read_user_metadata(spark, out)
        assert meta["osm.schema.version"] == "0.6"
        assert meta["bounds"] == "-74.06, 40.68, -74.03, 40.7"
        # the rewrite preserved row data and schema
        back = spark.read.orc(out)
        assert back.count() == planet.count()
        assert back.schema.simpleString() == planet.schema.simpleString()
        # read_metadata prefers the in-file footer when given a session
        assert read_metadata(out, spark)["osm.schema.version"] == "0.6"

    def test_osmosis_write_orc_compat(self, spark, tmp_path, monkeypatch):
        """`--write-orc` mirrors the osmosis plugin contract
        (OrcWriterFactory.java:11-22): single ORC file, default name
        dump.osm.orc, overridable via file=NAME."""
        import pyarrow.orc as po

        from osm2orc_spark.cli import main
        from osm2orc_spark.sinks.orc import read_user_metadata

        pbf = str(pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "tiny.osm.pbf")
        monkeypatch.chdir(tmp_path)
        assert main(["--write-orc", pbf]) == 0
        out = tmp_path / "dump.osm.orc"
        assert out.is_file()
        assert po.ORCFile(str(out)).nrows == 1788
        # named form + footer metadata carried into the single file
        assert main(["--write-orc", f"file={tmp_path}/named.orc", pbf]) == 0
        assert po.ORCFile(str(tmp_path / "named.orc")).nrows == 1788

    def test_block_padding_and_readable_by_pyarrow(self, spark, planet, tmp_path):
        import glob

        import pyarrow.orc as po

        out = str(tmp_path / "p2.orc")
        write_orc(planet.limit(10), out)
        files = glob.glob(out + "/*.orc") or glob.glob(out + "/part-*")
        assert files
        table = po.ORCFile(files[0]).read()
        assert table.num_rows > 0


def test_ways_reassembly_identical_over_orc_roundtrip(spark, pbf_path, tmp_path):
    """The README query must return IDENTICAL rows whether the snapshot
    comes from the committed parquet fixtures or from a live PBF ->
    write_orc -> spark.read.orc round-trip — the row-identity contract
    behind the bench's e2e_orc_sec metric (bench.py:e2e_orc_metric)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from osm2orc_spark.queries.osm_corpus import osm_ways_reassembly

    orc_dir = str(tmp_path / "roundtrip_orc")
    write_orc(read_pbf(spark, pbf_path), orc_dir, bounds=read_pbf_bounds(pbf_path))
    history = spark.read.orc(orc_dir)
    snap = (
        history.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("type", "id").orderBy(F.desc("version"))
            ),
        )
        .filter((F.col("rn") == 1) & F.col("visible"))
        .drop("rn")
    )
    via_orc = sorted(map(tuple, osm_ways_reassembly(spark, "", planet=snap).collect()))
    via_fixture = sorted(map(tuple, osm_ways_reassembly(spark, "").collect()))
    assert via_orc == via_fixture
    assert len(via_orc) > 0


class TestTailMetadataAppend:
    """r8: the O(footer-bytes) tail append must be indistinguishable from
    the JVM batch-copy rewrite in every reader's view, across codecs."""

    def test_tail_equals_jvm_rewrite(self, spark, planet, tmp_path):
        import glob

        from osm2orc_spark.sinks.orc import (
            append_user_metadata_tail,
            read_user_metadata,
        )

        meta = {"osm.schema.version": "0.6", "bounds": "1, 2, 3, 4"}
        views = {}
        checks = {}
        for codec in ("zlib", "snappy", "none"):
            tail_dir = str(tmp_path / f"tail_{codec}")
            planet.write.mode("overwrite").format("orc").option(
                "compression", codec
            ).save(tail_dir)
            for fp in sorted(glob.glob(tail_dir + "/*.orc")):
                append_user_metadata_tail(fp, meta)
            views[codec] = read_user_metadata(spark, tail_dir)
            back = spark.read.orc(tail_dir)
            checks[codec] = (
                back.count(),
                back.selectExpr("sum(hash(id, type, version))").first()[0],
            )
        want = (
            planet.count(),
            planet.selectExpr("sum(hash(id, type, version))").first()[0],
        )
        for codec, view in views.items():
            assert view["osm.schema.version"] == "0.6", codec
            assert view["bounds"] == "1, 2, 3, 4", codec
            assert checks[codec] == want, f"{codec}: data changed"

    def test_tail_append_twice_stays_readable(self, spark, planet, tmp_path):
        """Appending twice keeps the file fully readable. orc-core's
        reader resolves a duplicated user-metadata KEY first-wins
        (measured), so repeated stamping of the same key is visible-once
        but harmless; write_orc stamps each part file exactly once."""
        import glob

        from osm2orc_spark.sinks.orc import (
            append_user_metadata_tail,
            read_user_metadata,
        )

        out = str(tmp_path / "twice")
        planet.write.mode("overwrite").format("orc").save(out)
        for fp in sorted(glob.glob(out + "/*.orc")):
            append_user_metadata_tail(fp, {"k": "v1"})
            append_user_metadata_tail(fp, {"k2": "v2"})
        meta = read_user_metadata(spark, out)
        assert meta["k"] == "v1" and meta["k2"] == "v2"
        assert spark.read.orc(out).count() == planet.count()

    def test_s3a_rewrite_fallback_stamps_every_part(
        self, spark, planet, tmp_path, monkeypatch
    ):
        """Filesystems without truncate/append (S3A) take the JVM
        batch-copy rewrite.  Driven on ``file:`` by reporting an s3a
        scheme and failing the FS tail append the way S3A does: every
        part keeps Spark's own writer metadata, gains both keys and its
        rows, and no temp file outlives the swap."""
        import glob
        import os

        import pyarrow.orc as paorc

        from osm2orc_spark.sinks import orc as sink

        def no_append(*_args):
            raise RuntimeError(
                "java.lang.UnsupportedOperationException: Not implemented "
                "by the S3AFileSystem FileSystem implementation"
            )

        monkeypatch.setattr(sink, "_path_scheme", lambda _p: "s3a")
        monkeypatch.setattr(sink, "append_user_metadata_tail_fs", no_append)
        out = str(tmp_path / "s3a_parts")
        planet.repartition(3).write.mode("overwrite").format("orc").save(out)

        def row_hash():
            return spark.read.orc(out).selectExpr(
                "count(*)", "sum(hash(id, type, version))"
            ).first()

        want = row_hash()
        meta = {"osm.schema.version": "0.6", "bounds": "1, 2, 3, 4"}
        sink.embed_user_metadata(spark, f"file:{out}", meta)
        parts = sorted(glob.glob(out + "/*.orc"))
        assert len(parts) == 3
        for fp in parts:
            kv = {
                k.decode(): v.decode()
                for k, v in paorc.ORCFile(fp).metadata.items()
            }
            assert kv["osm.schema.version"] == "0.6", fp
            assert kv["bounds"] == "1, 2, 3, 4", fp
            assert "org.apache.spark.version" in kv, fp
        assert not [n for n in os.listdir(out) if ".meta.tmp" in n]
        assert row_hash() == want


class TestTailAppendR9:
    """r9: postscript keeps its trailing magic (r8 advice — strict
    readers require magic-last) and the Hadoop-FS truncate/append tail
    path is byte-identical to the posix path (r8 verdict #5)."""

    @staticmethod
    def _postscript(fp: str) -> bytes:
        with open(fp, "rb") as f:
            f.seek(0, 2)
            size = f.tell()
            f.seek(size - 1)
            ps_len = f.read(1)[0]
            f.seek(size - 1 - ps_len)
            return f.read(ps_len)

    def test_postscript_magic_stays_last(self, spark, planet, tmp_path):
        import glob

        from osm2orc_spark.sinks.orc import append_user_metadata_tail

        out = str(tmp_path / "magic")
        planet.write.mode("overwrite").format("orc").save(out)
        for fp in sorted(glob.glob(out + "/*.orc")):
            assert self._postscript(fp).endswith(b"ORC")  # writer invariant
            append_user_metadata_tail(fp, {"k": "v"})
            ps = self._postscript(fp)
            assert ps.endswith(b"ORC"), "stamped postscript lost magic-last"
            # stamping again must preserve it too (field-1 splice is
            # position-stable)
            append_user_metadata_tail(fp, {"k2": "v2"})
            assert self._postscript(fp).endswith(b"ORC")
        assert spark.read.orc(out).count() == planet.count()

    def test_fs_tail_append_byte_identical_to_posix(self, spark, planet, tmp_path):
        """Drive the remote-FS code path (ranged tail read + truncate +
        append through the Hadoop FileSystem API) against the raw local
        FS: the stamped file must be byte-identical to the posix r+b
        path and fully readable — proving the remote path rewrites only
        the tail, never copying the file."""
        import glob
        import shutil

        from osm2orc_spark.sinks.orc import (
            append_user_metadata_tail,
            append_user_metadata_tail_fs,
            read_user_metadata,
        )

        src = str(tmp_path / "fs_src")
        planet.repartition(2).write.mode("overwrite").format("orc").save(src)
        twin = str(tmp_path / "fs_twin")
        shutil.copytree(src, twin)
        meta = {"osm.schema.version": "0.6", "bounds": "1, 2, 3, 4"}
        src_parts = sorted(glob.glob(src + "/*.orc"))
        twin_parts = sorted(glob.glob(twin + "/*.orc"))
        assert len(src_parts) == len(twin_parts) >= 2
        for fp in src_parts:
            append_user_metadata_tail(fp, meta)
        for fp in twin_parts:
            append_user_metadata_tail_fs(spark, f"file:{fp}", meta)
        for a, b in zip(src_parts, twin_parts):
            with open(a, "rb") as fa, open(b, "rb") as fb:
                assert fa.read() == fb.read(), (a, b)
        assert read_user_metadata(spark, twin)["bounds"] == "1, 2, 3, 4"
        assert spark.read.orc(twin).count() == planet.count()

    def test_scheme_detection(self):
        from osm2orc_spark.sinks.orc import _path_scheme, _strip_file_scheme

        assert _path_scheme("hdfs:/tmp/out") == "hdfs"  # single-slash URI
        assert _path_scheme("hdfs://nn/tmp/out") == "hdfs"
        assert _path_scheme("s3a://bucket/key") == "s3a"
        assert _path_scheme("file:///tmp/x") == "file"
        assert _path_scheme("file:/tmp/x") == "file"
        assert _path_scheme("/tmp/x") is None
        assert _path_scheme("relative/dir") is None
        assert _strip_file_scheme("file:///tmp/x") == "/tmp/x"
        assert _strip_file_scheme("file:/tmp/x") == "/tmp/x"
        assert _strip_file_scheme("/tmp/x") == "/tmp/x"


def test_changeset_entity_through_spark_and_orc(spark, tmp_path):
    """ChangeSet entities (PrimitiveGroup field 5 — the entity-table half
    of the reference TODO, OsmPbf2Orc.java:193) survive the FULL pipeline:
    PBF -> read_pbf -> write_orc -> spark.read.orc, with zeroed (not
    NULL) decimal coords and the uniform entity schema."""
    from osm2orc_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    w.add(
        type="node",
        id=1,
        lat="1.0",
        lon="2.0",
        tags={},
        version=1,
        timestamp_ms=1_000,
        changeset=7,
        uid=3,
        user="a",
        visible=True,
    )
    w.add(type="changeset", id=99)
    pbf = tmp_path / "cs.osm.pbf"
    pbf.write_bytes(w.tobytes())

    df = read_pbf(spark, str(pbf))
    out = str(tmp_path / "cs.orc")
    write_orc(df, out)
    back = spark.read.orc(out)
    # ORC read-back relaxes nullability; names+types must be preserved
    assert back.schema.simpleString() == df.schema.simpleString()
    row = back.filter("type = 'changeset'").collect()
    assert len(row) == 1
    r = row[0]
    assert r.id == 99
    assert r.lat == Decimal("0E-7") and r.lon == Decimal("0E-7")
    assert r.tags == {} and r.nds == [] and r.members == []
    assert r.visible is True and r.uid is None and r.user is None
    assert back.count() == 2


def test_planet_cs_history_fixture_pinned(spark):
    """The committed mixed-entity fixture cannot drift from its
    generator (FIXTURES.md §2c's certification claim): tiny_cs.osm.pbf
    is byte-identical to write_pbf_cs_fixture's output, the committed
    planet_cs_history.parquet row-matches read_pbf over it, and the
    wire bytes really carry changesets as PrimitiveGroup field 5
    {1: id} varints (a matched writer+reader field-number mistake
    would survive self-roundtrip tests; the wire assertion breaks the
    symmetry)."""
    import tempfile

    from osm2orc_spark.fixtures import planet_cs_entities, write_pbf_cs_fixture
    from osm2orc_spark.sources.pbf_codec import _fields, iter_blobs_from_bytes

    fixtures = pathlib.Path(__file__).resolve().parents[1] / "fixtures"
    committed = (fixtures / "tiny_cs.osm.pbf").read_bytes()
    with tempfile.TemporaryDirectory() as td:
        p = pathlib.Path(td) / "regen.osm.pbf"
        write_pbf_cs_fixture(str(p))
        assert p.read_bytes() == committed  # deterministic writer, no drift

    # committed parquet == read_pbf over the committed PBF, row for row
    def rows(df):
        return sorted(
            (
                r.type,
                r.id,
                r.version,
                str(r.lat),
                str(r.lon),
                tuple(sorted((r.tags or {}).items())),
                tuple(r.nds or []),
                r.uid,
                r.user,
                r.visible,
            )
            for r in df.collect()
        )

    live = read_pbf(spark, str(fixtures / "tiny_cs.osm.pbf"))
    parq = spark.read.parquet(str(fixtures / "planet_cs_history.parquet"))
    assert rows(live) == rows(parq)

    # wire-level: PrimitiveGroup field 5, inner field 1 wire-0 varints,
    # and the id set matches the generator exactly
    want_ids = {e["id"] for e in planet_cs_entities() if e["type"] == "changeset"}
    got_ids = set()
    for kind, payload in iter_blobs_from_bytes(committed):
        if kind != "OSMData":
            continue
        for f, _, v in _fields(payload):
            if f != 2:  # PrimitiveGroup
                continue
            for f2, _, g in _fields(bytes(v)):
                if f2 == 5:  # ChangeSet message
                    inner = list(_fields(bytes(g)))
                    assert [(fld, wire) for fld, wire, _ in inner] == [(1, 0)]
                    got_ids.add(inner[0][2])
    assert got_ids == want_ids and len(want_ids) == 25
