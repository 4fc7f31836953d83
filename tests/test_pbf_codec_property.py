"""Property-based roundtrips for the PBF codec (SURVEY.md §5.4):
random entities -> encode -> decode == input. Pure codec level (no Spark)
so hypothesis can run hundreds of cases quickly."""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm2orc_spark.sources.pbf_codec import (
    PbfWriter,
    _emit_bytes,
    _emit_packed,
    _emit_varint,
    decode_header_block,
    decode_primitive_block_arrow,
    read_blob,
    scan_blob_index,
)
from tests.pbf_reference import decode_block

tag_text = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N", "P", "Zs")),
    min_size=0,
    max_size=30,
)
coord_lat = st.integers(min_value=-90 * 10**7, max_value=90 * 10**7).map(
    lambda v: f"{'-' if v < 0 else ''}{abs(v) // 10**7}.{abs(v) % 10**7:07d}"
)
coord_lon = st.integers(min_value=-180 * 10**7, max_value=180 * 10**7).map(
    lambda v: f"{'-' if v < 0 else ''}{abs(v) // 10**7}.{abs(v) % 10**7:07d}"
)
tags = st.dictionaries(st.text(min_size=1, max_size=10), tag_text, max_size=5)
info = {
    "changeset": st.integers(min_value=0, max_value=2**40),
    "timestamp_ms": st.integers(min_value=0, max_value=2**41).map(lambda v: v - v % 1000),
    "uid": st.integers(min_value=0, max_value=2**31 - 1),
    "user": st.text(min_size=0, max_size=12),
    "version": st.integers(min_value=1, max_value=100),
    "visible": st.booleans(),
}


def nodes_strategy():
    return st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=0, max_value=2**45),
                "lat": coord_lat,
                "lon": coord_lon,
                "tags": tags,
                **info,
            }
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda e: e["id"],
    )


def ways_strategy():
    return st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=0, max_value=2**45),
                "nds": st.lists(st.integers(min_value=0, max_value=2**45), max_size=20),
                "tags": tags,
                **info,
            }
        ),
        max_size=10,
        unique_by=lambda e: e["id"],
    )


def relations_strategy():
    member = st.tuples(
        st.sampled_from(["node", "way", "relation"]),
        st.integers(min_value=0, max_value=2**45),
        st.text(max_size=8),
    )
    return st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=0, max_value=2**45),
                "members": st.lists(member, max_size=8),
                "tags": tags,
                **info,
            }
        ),
        max_size=10,
        unique_by=lambda e: e["id"],
    )


def _decode_all(data: bytes, tmp_path) -> list[dict]:
    """Every entity of a PBF file, decoded by the scalar reference."""
    p = tmp_path / "t.pbf"
    p.write_bytes(data)
    out = []
    for ref in scan_blob_index(str(p)):
        if ref.kind == "OSMData":
            out.extend(decode_block(read_blob(ref)))
    return out


@settings(max_examples=60, deadline=None)
@given(nodes=nodes_strategy(), ways=ways_strategy(), rels=relations_strategy())
def test_roundtrip(tmp_path_factory, nodes, ways, rels):
    tmp = tmp_path_factory.mktemp("prop")
    w = PbfWriter()
    for e in nodes:
        w.add(type="node", **e)
    for e in ways:
        w.add(type="way", **e)
    for e in rels:
        w.add(type="relation", **e)
    decoded = _decode_all(w.tobytes(nodes_per_block=7), tmp)

    by_key = {(d["type"], d["id"]): d for d in decoded}
    assert len(decoded) == len(nodes) + len(ways) + len(rels)
    for e in nodes:
        d = by_key[("node", e["id"])]
        # 7-decimal coordinates sit exactly on the default granularity=100
        assert d["lat"] == Decimal(e["lat"]) and d["lon"] == Decimal(e["lon"])
        assert dict(d["tags"]) == e["tags"]
        assert d["version"] == e["version"]
        assert d["visible"] == e["visible"]
        assert d["timestamp_ms"] == e["timestamp_ms"]
        assert d["changeset"] == e["changeset"]
        assert d["uid"] == e["uid"]
        assert d["user"] == e["user"]
    for e in ways:
        d = by_key[("way", e["id"])]
        assert d["nds"] == e["nds"]  # order-preserving (B9)
        assert dict(d["tags"]) == e["tags"]
        assert d["lat"] is None and d["lon"] is None  # B3
    for e in rels:
        d = by_key[("relation", e["id"])]
        members = [(m["type"], m["ref"], m["role"]) for m in d["members"]]
        assert members == e["members"]  # ordered, roles exact (B10)


@settings(max_examples=20, deadline=None)
@given(
    left=st.decimals(min_value=-180, max_value=179, places=4),
    bottom=st.decimals(min_value=-90, max_value=89, places=4),
)
def test_bounds_roundtrip(tmp_path_factory, left, bottom):
    tmp = tmp_path_factory.mktemp("bounds")
    bounds = (float(left), float(bottom), float(left) + 1, float(bottom) + 1)
    w = PbfWriter(bounds=bounds)
    w.add(type="node", id=1, lat="1.0", lon="2.0", tags={}, version=1)
    p = tmp / "b.pbf"
    p.write_bytes(w.tobytes())
    hdr = [r for r in scan_blob_index(str(p)) if r.kind == "OSMHeader"][0]
    got = decode_header_block(read_blob(hdr))["bounds"]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, bounds))


INT64_MIN, INT64_MAX = -(1 << 63), (1 << 63) - 1


@settings(max_examples=200, deadline=None)
@given(vals=st.lists(st.integers(INT64_MIN, INT64_MAX), max_size=200))
def test_packed_svarint_vectorized_roundtrip(vals):
    """The numpy varint decoder must agree with the encoder over the full
    int64 range — including 10-byte varints (negatives), whose top bits
    wrap at 64."""
    from osm2orc_spark.sources.pbf_codec import _packed_varints_np, _zigzag_np

    out = bytearray()
    _emit_packed(out, 1, vals, zigzag=True)
    # strip the field tag + length header that _emit_packed prepends
    from osm2orc_spark.sources.pbf_codec import _read_varint

    pos = 1  # tag byte (field 1, wire 2)
    _, pos = _read_varint(bytes(out), pos)
    payload = bytes(out[pos:])
    assert _zigzag_np(_packed_varints_np(payload)).tolist() == vals


@settings(max_examples=200, deadline=None)
@given(deltas=st.lists(st.integers(-(1 << 40), 1 << 40), max_size=100))
def test_packed_svarint_delta_matches_prefix_sum(deltas):
    from osm2orc_spark.sources.pbf_codec import _packed_deltas_np, _read_varint

    out = bytearray()
    _emit_packed(out, 1, deltas, zigzag=True)
    pos = 1
    _, pos = _read_varint(bytes(out), pos)
    payload = bytes(out[pos:])
    acc, want = 0, []
    for d in deltas:
        acc += d
        want.append(acc)
    assert _packed_deltas_np(payload).tolist() == want


def test_empty_string_tag_value_dense_roundtrip(tmp_path):
    """Empty-string tag values must survive DenseNodes keys_vals encoding.

    String-table index 0 is the kv delimiter; the writer must intern a
    real "" at a non-zero index or the stream is ambiguous (this was a
    hypothesis-found bug: tag {'0': ''} decoded as {})."""
    w = PbfWriter()
    w.add(type="node", id=1, tags={"0": ""}, lat="1.0000000", lon="2.0000000",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="")
    w.add(type="node", id=2, tags={}, lat="1.0000000", lon="2.0000000",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    w.add(type="node", id=3, tags={"k": "", "": "v"}, lat="1.0", lon="2.0",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    data = w.tobytes(nodes_per_block=7)
    decoded = _decode_all(data, tmp_path)
    by_id = {d["id"]: d for d in decoded}
    assert by_id[1]["tags"] == [("0", "")]
    assert by_id[1]["user"] == ""
    assert by_id[2]["tags"] == []
    assert by_id[3]["tags"] == [("k", ""), ("", "v")]
    _assert_arrow_parity(data, tmp_path)


class SloppyWriter(PbfWriter):
    """Interns "" at string 0, the dense keys_vals terminator (an old,
    non-compliant intern), so an empty value is written as sid 0."""

    def _build_strings(self):
        table, index = super()._build_strings()
        return table, {**index, "": 0}


def test_noncompliant_zero_sid_decodes_sequentially(tmp_path):
    """Files that (illegally) reference string 0 inside keys_vals still
    decode: zeros in value position make the terminator count exceed the
    node count, and the stream is then read pair by pair."""
    w = SloppyWriter()
    w.add(type="node", id=1, tags={"a": ""}, lat="1.0", lon="2.0",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    w.add(type="node", id=2, tags={"b": "x"}, lat="1.0", lon="2.0",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    data = w.tobytes(nodes_per_block=7)
    decoded = _decode_all(data, tmp_path)
    by_id = {d["id"]: d for d in decoded}
    assert by_id[1]["tags"] == [("a", "")]
    assert by_id[2]["tags"] == [("b", "x")]
    _assert_arrow_parity(data, tmp_path)


# ---------------------------------------------------------------------------
# Production decode vs the scalar reference (tests/pbf_reference.py):
# decode_primitive_block_arrow must return exactly the reference's rows
# for every block, including the inputs the spec leaves open (long
# strings, plain Node and ChangeSet messages, sid 0 as a value, dangling
# and duplicate keys, unknown Info fields).
# ---------------------------------------------------------------------------


def _assert_block_parity(payload: bytes) -> list[dict]:
    want = decode_block(payload)
    got = decode_primitive_block_arrow(payload)
    assert (got is None) == (not want)
    rows = [] if got is None else got.to_pylist()
    assert rows == want
    return rows


def _assert_arrow_parity(data: bytes, tmp_path) -> int:
    p = tmp_path / "parity.pbf"
    p.write_bytes(data)
    n_blocks = 0
    for ref in scan_blob_index(str(p)):
        if ref.kind == "OSMData":
            _assert_block_parity(read_blob(ref))
            n_blocks += 1
    return n_blocks


@settings(max_examples=40, deadline=None)
@given(nodes=nodes_strategy(), ways=ways_strategy(), rels=relations_strategy())
def test_arrow_decode_parity_roundtrip(tmp_path_factory, nodes, ways, rels):
    w = PbfWriter()
    for e in nodes:
        w.add(type="node", **e)
    for e in ways:
        w.add(type="way", **e)
    for e in rels:
        w.add(type="relation", **e)
    tmp = tmp_path_factory.mktemp("arrowparity")
    assert _assert_arrow_parity(w.tobytes(nodes_per_block=7), tmp) >= 1


def test_arrow_decode_parity_tiny_fixture(tmp_path):
    data = open("fixtures/tiny.osm.pbf", "rb").read()
    assert _assert_arrow_parity(data, tmp_path) >= 1


def test_arrow_decode_parity_long_string(tmp_path):
    """A >=128-byte tag value gives its string-table entry a multi-byte
    length, which the one-byte-length table walk cannot take."""
    w = PbfWriter()
    w.add(type="node", id=1, tags={"desc": "x" * 300}, lat="1.0", lon="2.0",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    w.add(type="way", id=2, tags={"note": "é" * 200}, nds=[1],
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    assert _assert_arrow_parity(w.tobytes(), tmp_path) >= 2
    rows = _decode_all(w.tobytes(), tmp_path)
    assert [dict(r["tags"]) for r in rows] == [{"desc": "x" * 300}, {"note": "é" * 200}]


def test_arrow_decode_parity_noncompliant_zero_sid(tmp_path):
    w = SloppyWriter()
    w.add(type="node", id=1, tags={"a": ""}, lat="1.0", lon="2.0",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    assert _assert_arrow_parity(w.tobytes(), tmp_path) >= 1


def test_planet_arrow_schema_matches_spark():
    """The codec's pyspark-free arrow schema must equal what Spark's
    mapInArrow expects for PLANET_RAW_SCHEMA."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from osm2orc_spark.sources.pbf import PLANET_RAW_SCHEMA
    from osm2orc_spark.sources.pbf_codec import planet_arrow_schema

    assert planet_arrow_schema() == to_arrow_schema(PLANET_RAW_SCHEMA)


@settings(max_examples=60, deadline=None)
@given(
    segs=st.lists(
        st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=12),
        min_size=0,
        max_size=20,
    )
)
def test_concat_varints_and_segmented_delta(segs):
    """The vectorized way-path core (_concat_varints + _zigzag_np +
    _segmented_delta) must equal the scalar per-buffer decode for any
    segment layout, including empty buffers and empty inputs."""
    from osm2orc_spark.sources.pbf_codec import (
        _concat_varints,
        _segmented_delta,
        _write_varint,
        _zigzag_np,
    )
    from tests.pbf_reference import _deltas

    def enc(vals):
        out = bytearray()
        for v in vals:
            _write_varint(out, ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1))
        return bytes(out)

    bufs = [enc(s) for s in segs]
    vals, counts = _concat_varints(bufs)
    assert counts.tolist() == [len(s) for s in segs]
    flat = _segmented_delta(_zigzag_np(vals), counts)
    assert flat.tolist() == [v for b in bufs for v in _deltas(b)]


class ExtInfoWriter(PbfWriter):
    """Appends an unknown varint field 7 to every Info message."""

    def _encode_info(self, e, index):
        out = bytearray(super()._encode_info(e, index))
        _emit_varint(out, 7, 12345)
        return bytes(out)


def test_arrow_decode_parity_unknown_info_field(tmp_path):
    """An Info field number outside 1..6 (here varint field 7 on a way's
    Info) fails the vectorized alternation check, so that block's Info is
    walked per entity; the field is skipped and every Info column keeps
    its value."""
    w = ExtInfoWriter()
    w.add(type="way", id=1, tags={"highway": "residential"}, nds=[1, 2, 3],
          version=2, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    w.add(type="node", id=1, tags={}, lat="1.0", lon="2.0",
          version=1, visible=True, changeset=5, timestamp_ms=1000, uid=7, user="u")
    assert _assert_arrow_parity(w.tobytes(), tmp_path) >= 1
    way = [r for r in _decode_all(w.tobytes(), tmp_path) if r["type"] == "way"][0]
    assert (way["version"], way["changeset"], way["uid"], way["user"]) == (2, 5, 7, "u")


# Hand-built blocks for the inputs the writer never emits.  String table:
# sid 0 "", 1 "a", 2 "1", 3 "2", 4 "b", 5 "u".
STRINGS = ["", "a", "1", "2", "b", "u"]


def _block(*groups: bytes, strings=STRINGS, table: bytes | None = None) -> bytes:
    if table is None:
        st = bytearray()
        for s in strings:
            _emit_bytes(st, 1, s if isinstance(s, bytes) else s.encode())
        table = bytes(st)
    pb = bytearray()
    _emit_bytes(pb, 1, table)
    for g in groups:
        _emit_bytes(pb, 2, g)
    return bytes(pb)


def _message(*fields: tuple) -> bytes:
    """Message bytes from (fieldno, kind, value) fields: kind 'v' varint,
    'b' bytes, 'p' packed varints, 'z' packed zigzag varints."""
    msg = bytearray()
    for f, kind, v in fields:
        if kind == "v":
            _emit_varint(msg, f, v)
        elif kind == "b":
            _emit_bytes(msg, f, v)
        else:
            _emit_packed(msg, f, v, zigzag=kind == "z")
    return bytes(msg)


def _group(fieldno: int, *fields: tuple) -> bytes:
    """A PrimitiveGroup holding one message of type ``fieldno``."""
    return _message((fieldno, "b", _message(*fields)))


def _info(*extra: tuple) -> tuple:
    """An Info field: version 3, timestamp, changeset, uid, user sid 5,
    visible, then any ``extra`` fields."""
    return (4, "b", _message((1, "v", 3), (2, "v", 1_600_000_000), (3, "v", 42),
                             (4, "v", 7), (5, "v", 5), (6, "v", 1), *extra))


def _dense(ids: list[int], kv: list[int], *dense_info: tuple) -> bytes:
    deltas = [b - a for a, b in zip([0] + ids, ids)]
    fields = [(1, "z", deltas), (8, "z", [10**7] * len(ids)), (9, "z", [2 * 10**7] * len(ids)),
              (10, "p", kv)]
    if dense_info:
        fields.append((5, "b", _message(*dense_info)))
    return _group(2, *fields)


def _way(wid: int, keys: list[int], vals: list[int], *extra: tuple) -> bytes:
    return _group(3, (1, "v", wid), (2, "p", keys), (3, "p", vals), (8, "z", [5, 1, 1]), *extra)


def _plain_node(nid: int, *extra: tuple) -> bytes:
    return _group(1, (1, "v", (nid << 1) ^ (nid >> 63)), *extra)


LONG = "L" * 200
# name -> (block, expected tags per row in wire order)
CRAFTED = {
    "long_string": (
        _block(_dense([1], [1, 6, 0]), _way(9, [6], [1]), strings=STRINGS + [LONG]),
        [[("a", LONG)], [(LONG, "a")]],
    ),
    "plain_nodes": (
        _block(
            _plain_node(-5, (2, "p", [1]), (3, "p", [2]), _info(), (8, "v", 21), (9, "v", 40)),
            _dense([7], [4, 3, 0]),
            _plain_node(6),  # no coordinates, no Info
            _way(8, [], []),
            _plain_node(1, (8, "v", 3)),  # latitude only
        ),
        [[("a", "1")], [("b", "2")], [], [], []],
    ),
    "changeset": (
        # a ChangeSet carries only its id: the other fields are ignored
        _block(_group(5, (1, "v", 77), (2, "p", [1]), (3, "p", [2]), _info()),
               _way(1, [1], [2])),
        [[], [("a", "1")]],
    ),
    "zero_sid_value": (
        _block(_dense([1, 2], [1, 0, 0, 4, 2, 0])),
        [[("a", "")], [("b", "1")]],
    ),
    "missing_terminators": (
        _block(_dense([1, 2, 3], [1, 2, 0])),
        [[("a", "1")], [], []],
    ),
    "dangling_key": (
        _block(_dense([1, 2], [1, 2, 4, 0, 4, 3, 0])),
        [[("a", "1")], [("b", "2")]],
    ),
    "duplicate_keys_dense": (
        _block(_dense([1, 2], [1, 2, 4, 2, 1, 3, 0, 1, 2, 0])),
        [[("a", "2"), ("b", "1")], [("a", "1")]],
    ),
    "duplicate_keys_way": (
        _block(_way(9, [1, 4, 1], [2, 2, 3]), _way(10, [1], [2])),
        [[("a", "2"), ("b", "1")], [("a", "1")]],
    ),
    "keys_vals_mismatch": (
        _block(_way(1, [1, 4], [2]), _way(2, [1], [2, 3]), _way(3, [1, 4], [2, 3])),
        [[("a", "1")], [("a", "1")], [("a", "1"), ("b", "2")]],
    ),
    "info_unknown_varint": (
        _block(_way(1, [1], [2], _info((7, "v", 12345))), _way(2, [4], [3], _info())),
        [[("a", "1")], [("b", "2")]],
    ),
    "info_non_varint": (
        _block(_way(1, [1], [2], _info((7, "b", b"\x08\x05"), (9, "v", 1)))),
        [[("a", "1")]],
    ),
    "dense_info_empty_field": (
        _block(_dense([1, 2], [0, 0], (1, "p", [2, 3]), (3, "z", []), (5, "z", [5, 0]))),
        [[], []],
    ),
    "string_table_other_fields": (
        _block(_dense([1], [1, 2, 0]), table=_message(
            (1, "b", b""), (2, "v", 99), (1, "b", b"a"), (3, "b", b"junk"), (1, "b", b"1"))),
        [[("a", "1")]],
    ),
}


@pytest.mark.parametrize("name", sorted(CRAFTED))
def test_crafted_block_equals_oracle(name):
    block, tags = CRAFTED[name]
    rows = _assert_block_parity(block)
    assert [r["tags"] for r in rows] == tags


@settings(max_examples=150, deadline=None)
@given(
    nodes=st.lists(
        st.tuples(st.lists(st.tuples(st.integers(1, 4), st.integers(1, 5)), max_size=6),
                  st.none() | st.integers(1, 4)),
        min_size=1, max_size=8),
    ways=st.lists(st.tuples(st.lists(st.integers(1, 4), max_size=6),
                            st.lists(st.integers(1, 5), max_size=6)), max_size=5),
)
def test_tag_maps_equal_oracle(nodes, ways):
    """Small sid alphabets make repeated keys common: dense nodes (with
    an optional dangling key) and ways (keys and vals of any lengths)
    decode to the reference's tag maps."""
    kv = []
    for pairs, dangling in nodes:
        kv += [sid for pair in pairs for sid in pair] + ([dangling] if dangling else []) + [0]
    groups = [_dense(list(range(1, len(nodes) + 1)), kv)]
    groups += [_way(i, keys, vals) for i, (keys, vals) in enumerate(ways)]
    _assert_block_parity(_block(*groups))


def test_duplicate_tag_keys_last_value_wins_on_dense_node_and_way():
    """A tag key repeated within one entity keeps its first position and
    its last value on dense nodes exactly as on ways."""
    node, way = (decode_primitive_block_arrow(CRAFTED[f"duplicate_keys_{k}"][0]).to_pylist()[0]
                 for k in ("dense", "way"))
    assert (node["type"], way["type"]) == ("node", "way")
    assert node["tags"] == way["tags"] == [("a", "2"), ("b", "1")]


def test_plain_nodes_and_changesets_decode_columns():
    rows = _assert_block_parity(CRAFTED["plain_nodes"][0])
    assert [(r["type"], r["id"]) for r in rows] == [
        ("node", -5), ("node", 7), ("node", 6), ("way", 8), ("node", 1)]
    assert (rows[0]["lat"], rows[0]["lon"]) == (Decimal("-0.0000011"), Decimal("0.000002"))
    assert (rows[0]["version"], rows[0]["user"], rows[0]["timestamp_ms"]) == (
        3, "u", 1_600_000_000_000)
    assert (rows[2]["lat"], rows[2]["version"], rows[2]["user"]) == (None, -1, None)
    assert (rows[4]["lat"], rows[4]["lon"]) == (Decimal("-0.0000002"), None)
    cs = _assert_block_parity(CRAFTED["changeset"][0])[0]
    assert (cs["type"], cs["id"], cs["lat"], cs["lon"]) == ("changeset", 77, 0, 0)
    assert (cs["version"], cs["changeset"], cs["user"], cs["visible"]) == (-1, None, None, True)


# ---------------------------------------------------------------------------
# Encoding-variant certification: no real planet extract is reachable
# offline, so the writer emits the encoding SPACE real producers use —
# raw (uncompressed) blobs, non-default granularity / lat_lon offsets /
# date_granularity, plain (non-dense) Node messages — and every variant
# must decode to the SAME logical rows as the default encoding of the
# same entities, with the production decode equal to the reference.
# This is the strongest offline substitute for replaying a real region
# file: the decoder is pinned across the whole variant matrix, not just
# the one encoding our fixtures happen to produce.
# ---------------------------------------------------------------------------
ENCODING_VARIANTS = [
    {"compression": "raw"},
    {"granularity": 1000},
    {"granularity": 1000, "lat_offset": 500_000_000, "lon_offset": 120_000_000},
    {"date_granularity": 2000},
    {"plain_nodes": True},
    {
        "compression": "raw",
        "granularity": 200,
        "lat_offset": 1_000_000,
        "plain_nodes": True,
        "date_granularity": 4000,
    },
]

# grid-aligned coordinate strategies: every variant above has
# granularity dividing 1000 and offsets that are multiples of it, so
# micro-degree coordinates (x1000 nanodegrees) sit exactly on every grid
coord_lat_grid = st.integers(min_value=-90 * 10**4, max_value=90 * 10**4).map(
    lambda v: f"{'-' if v < 0 else ''}{abs(v) // 10**4}.{abs(v) % 10**4:04d}000"
)
coord_lon_grid = st.integers(min_value=-180 * 10**4, max_value=180 * 10**4).map(
    lambda v: f"{'-' if v < 0 else ''}{abs(v) // 10**4}.{abs(v) % 10**4:04d}000"
)
# timestamps on the coarsest variant grid (4000 ms) so every
# date_granularity above round-trips exactly
info_grid = dict(info)
info_grid["timestamp_ms"] = st.integers(min_value=0, max_value=2**41).map(
    lambda v: v - v % 4000
)


def nodes_grid_strategy():
    return st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=0, max_value=2**45),
                "lat": coord_lat_grid,
                "lon": coord_lon_grid,
                "tags": tags,
                **info_grid,
            }
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda e: e["id"],
    )


def ways_grid_strategy():
    return st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=0, max_value=2**45),
                "nds": st.lists(st.integers(min_value=0, max_value=2**45), max_size=10),
                "tags": tags,
                **info_grid,
            }
        ),
        max_size=6,
        unique_by=lambda e: e["id"],
    )


def relations_grid_strategy():
    member = st.tuples(
        st.sampled_from(["node", "way", "relation"]),
        st.integers(min_value=0, max_value=2**45),
        st.text(max_size=8),
    )
    return st.lists(
        st.fixed_dictionaries(
            {
                "id": st.integers(min_value=0, max_value=2**45),
                "members": st.lists(member, max_size=6),
                "tags": tags,
                **info_grid,
            }
        ),
        max_size=6,
        unique_by=lambda e: e["id"],
    )


@settings(max_examples=25, deadline=None)
@given(
    nodes=nodes_grid_strategy(),
    ways=ways_grid_strategy(),
    rels=relations_grid_strategy(),
)
def test_encoding_variants_decode_identically(tmp_path_factory, nodes, ways, rels):
    tmp = tmp_path_factory.mktemp("variants")

    def rows(writer_kwargs, tag):
        w = PbfWriter(**writer_kwargs)
        for e in nodes:
            w.add(type="node", **e)
        for e in ways:
            w.add(type="way", **e)
        for e in rels:
            w.add(type="relation", **e)
        data = w.tobytes(nodes_per_block=7)
        d = tmp_path_factory.mktemp(tag)
        _assert_arrow_parity(data, d)
        return sorted(_decode_all(data, d), key=lambda r: (r["type"], r["id"]))

    base = rows({}, "base")
    for i, variant in enumerate(ENCODING_VARIANTS):
        got = rows(variant, f"v{i}")
        assert got == base, f"variant {variant} decoded differently"


def test_variant_grid_fields_actually_emitted(tmp_path):
    """The non-default grids must be ON THE WIRE, asserted PER FIELD
    (fields 17-20 in the PrimitiveBlock, raw Blob field 1 instead of
    2+3, plain Node group field 1 instead of DenseNodes field 2) — not
    merely 'bytes differ', which any one knob could satisfy while
    another silently stopped being emitted."""
    from osm2orc_spark.sources.pbf_codec import _fields, iter_blobs_from_bytes

    ents = dict(
        type="node", id=5, tags={"a": "b"}, lat="1.2340000", lon="5.0000000",
        version=2, visible=True, changeset=9, timestamp_ms=8000, uid=3, user="u",
    )
    w_def = PbfWriter()
    w_def.add(**ents)
    w_var = PbfWriter(
        compression="raw", granularity=1000, lat_offset=1_000_000,
        lon_offset=2_000_000, date_granularity=2000, plain_nodes=True,
    )
    w_var.add(**ents)
    b_def, b_var = w_def.tobytes(), w_var.tobytes()

    def block_fields(data: bytes) -> tuple[dict, set]:
        """(PrimitiveBlock field -> last varint value, group fieldnos)
        of the first OSMData blob."""
        for kind, payload in iter_blobs_from_bytes(data):
            if kind != "OSMData":
                continue
            scalars, group_fields = {}, set()
            for f, wire, v in _fields(payload):
                if f == 2:  # PrimitiveGroup
                    group_fields |= {f2 for f2, _, _ in _fields(bytes(v))}
                elif wire == 0:
                    scalars[f] = v
            return scalars, group_fields
        raise AssertionError("no OSMData blob")

    d_scalars, d_groups = block_fields(b_def)
    v_scalars, v_groups = block_fields(b_var)
    # defaults omitted on the default encoding
    assert not ({17, 18, 19, 20} & set(d_scalars))
    assert d_groups == {2}  # DenseNodes
    # every knob on the wire for the variant
    assert v_scalars[17] == 1000 and v_scalars[18] == 2000
    assert v_scalars[19] == 1_000_000 and v_scalars[20] == 2_000_000
    assert v_groups == {1}  # plain Node messages
    # raw vs zlib at the Blob level: field 1 (raw) only in the variant,
    # fields 2+3 (raw_size + zlib_data) only in the default
    def blob_body_fields(data: bytes) -> set:
        import struct as _struct

        pos = 0
        out = set()
        while pos < len(data):
            (hlen,) = _struct.unpack(">i", data[pos : pos + 4])
            header = data[pos + 4 : pos + 4 + hlen]
            kind = datasize = None
            for f, _, v in _fields(header):
                if f == 1:
                    kind = bytes(v)
                elif f == 3:
                    datasize = v
            body = data[pos + 4 + hlen : pos + 4 + hlen + datasize]
            if kind == b"OSMData":
                return {f for f, _, _ in _fields(body)}
            pos += 4 + hlen + datasize
        raise AssertionError("no OSMData blob")

    assert blob_body_fields(b_var) == {1}
    assert blob_body_fields(b_def) == {2, 3}
    # and decode equality of the row despite all wire differences
    assert _decode_all(b_def, tmp_path) == _decode_all(b_var, tmp_path)


# ---------------------------------------------------------------------------
# ChangeSet entities in the entity table (the OTHER half of the reference
# TODO, OsmPbf2Orc.java:193: "TODO changeset, in which case lat/lon need
# to be zeroed out"): PrimitiveGroup field 5 carries ChangeSet{1: id}.
# Decoded row: type='changeset', ZEROED (not NULL) coords per the
# reference's stated intent, empty tags/nds/members, Info defaults.
# ---------------------------------------------------------------------------
@settings(max_examples=40, deadline=None)
@given(
    nodes=nodes_strategy(),
    cs_ids=st.lists(
        st.integers(min_value=0, max_value=2**45), max_size=6, unique=True
    ),
)
def test_changeset_entities_roundtrip(tmp_path_factory, nodes, cs_ids):
    tmp = tmp_path_factory.mktemp("csent")
    w = PbfWriter()
    for e in nodes:
        w.add(type="node", **e)
    for i in cs_ids:
        w.add(type="changeset", id=i)
    data = w.tobytes(nodes_per_block=7)
    decoded = _decode_all(data, tmp)
    got = {d["id"]: d for d in decoded if d["type"] == "changeset"}
    assert set(got) == set(cs_ids)
    for d in got.values():
        assert float(d["lat"]) == 0.0 and float(d["lon"]) == 0.0  # zeroed
        assert d["tags"] == [] and d["nds"] == [] and d["members"] == []
        assert d["visible"] is True
        assert d["uid"] is None and d["user"] is None
    assert len(decoded) == len(nodes) + len(cs_ids)
    _assert_arrow_parity(data, tmp_path_factory.mktemp("csent_parity"))


# ---------------------------------------------------------------------------
# Hostile-input matrix: structural corruption must be a LOUD
# located ValueError, never a silently-empty or silently-partial scan —
# at planet scale a quiet drop of trailing blobs is unrecoverable data
# loss.  Spec hard limits enforced: BlobHeader < 64 KiB, Blob < 32 MiB
# (https://wiki.openstreetmap.org/wiki/PBF_Format).
# ---------------------------------------------------------------------------
def test_corrupt_inputs_raise_loudly(tmp_path):
    import struct
    import zlib as _zlib

    from osm2orc_spark.sources.pbf_codec import iter_blobs_from_bytes

    w = PbfWriter()
    for i in range(1, 40):
        w.add(type="node", id=i, lat="1.0", lon="2.0", tags={}, version=1,
              visible=True, timestamp_ms=0, changeset=1, uid=1, user="u")
    data = w.tobytes(nodes_per_block=7)

    def scan_all(blob: bytes):
        p = tmp_path / "case.pbf"
        p.write_bytes(blob)
        refs = list(scan_blob_index(str(p)))
        for r in refs:
            if r.kind == "OSMData":
                decode_primitive_block_arrow(read_blob(r))
        return refs

    # intact file and its in-memory twin both scan clean
    n_blobs = len(scan_all(data))
    assert n_blobs >= 3  # header + several data blobs
    assert sum(1 for _ in iter_blobs_from_bytes(data)) == n_blobs

    cases = {
        "truncated mid-blob": data[: len(data) // 2],
        "partial length word": data[:2],
        "trailing garbage": data + b"\x01\x02",
        "not a pbf": b"hello world, definitely not protobuf " * 20,
        "absurd header length": struct.pack(">i", 2**30) + b"\x00" * 100,
        "negative header length": struct.pack(">i", -5) + b"\x00" * 100,
    }
    for name, blob in cases.items():
        with pytest.raises(ValueError, match="truncated|outside|BlobHeader"):
            scan_all(blob)
        with pytest.raises(ValueError, match="truncated|outside|BlobHeader"):
            list(iter_blobs_from_bytes(blob))

    # a string table that is not valid UTF-8 or ends inside an entry
    # fails the decode itself, on both table walks
    def pbf_of(block: bytes) -> bytes:
        out = bytearray()
        w._blob("OSMHeader", b"", out)
        w._blob("OSMData", block, out)
        return bytes(out)

    bad_tables = {
        "invalid UTF-8": _block(_dense([1], [1, 2, 0]), strings=["", b"\xff\xfe", "1"]),
        "invalid UTF-8, long strings": _block(
            _dense([1], [1, 2, 0]), strings=["", b"\xc3", "L" * 200]),
        "truncated entry": _block(table=_message((1, "b", b"")) + b"\x0a\x05ab"),
    }
    for name, block in bad_tables.items():
        with pytest.raises(ValueError, match="utf-8|truncated string table"):
            scan_all(pbf_of(block))

    # corrupt zlib payload: loud too (zlib.error from the decompressor)
    flipped = bytearray(data)
    flipped[len(flipped) // 2] ^= 0xFF
    with pytest.raises((ValueError, _zlib.error)):
        scan_all(bytes(flipped))

    # zip bomb: a blob whose zlib stream expands past the spec's 32 MiB
    # uncompressed hard limit is refused, not inflated into task memory;
    # a truncated zlib stream is equally loud (decompressobj, unlike
    # zlib.decompress, does not raise on its own — _bounded_inflate
    # checks stream termination explicitly)
    from osm2orc_spark.sources.pbf_codec import _bounded_inflate

    bomb = _zlib.compress(b"\x00" * (64 * 1024 * 1024))
    assert len(bomb) < 100_000  # the attack: tiny on the wire
    with pytest.raises(ValueError, match="32MiB"):
        _bounded_inflate(bomb)
    with pytest.raises(ValueError, match="32MiB"):
        _bounded_inflate(_zlib.compress(b"y" * 100_000)[:50])

    # a file that shrinks AFTER indexing fails the ranged read, not
    # silently returns fewer entities
    p = tmp_path / "shrink.pbf"
    p.write_bytes(data)
    refs = [r for r in scan_blob_index(str(p)) if r.kind == "OSMData"]
    p.write_bytes(data[: refs[-1].offset + refs[-1].size // 2])
    with pytest.raises(ValueError, match="short read"):
        read_blob(refs[-1])
