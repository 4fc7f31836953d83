"""Scalar reference decoder for PBF PrimitiveBlocks: the tests' oracle.

It walks one message at a time with the codec's generic ``_fields``
walker and builds one row per entity, in the shape of
``decode_primitive_block_arrow(...).to_pylist()`` (tags as (key, value)
pairs, coordinates as ``Decimal``, members as dicts).  The semantics it
pins for inputs the spec leaves open:

- an Info field or tag key repeated in one entity: the last value wins,
  and a key keeps the position of its first occurrence;
- a key without a value (a dangling dense key, or a way with more keys
  than vals) is dropped;
- an empty packed DenseInfo field counts as absent;
- when a dense keys_vals stream does not hold exactly one 0 per node,
  sid 0 is read sequentially, as a value where a value is due;
- unknown fields are skipped by wire type;
- varint int64 fields wrap at 64 bits.
"""

from __future__ import annotations

from decimal import Decimal

from osm2orc_spark.sources.pbf_codec import _fields, _read_varint, _zigzag_decode

MEMBER_TYPES = ("node", "way", "relation")
NO_INFO = {"version": -1, "timestamp_ms": None, "changeset": None, "uid": None,
           "user": None, "visible": True}
INFO_FIELDS = {1: "version", 2: "timestamp_ms", 3: "changeset", 4: "uid"}


def _i64(v: int) -> int:
    return v - (1 << 64) if v >= 1 << 63 else v


def _varints(buf: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(buf):
        v, pos = _read_varint(buf, pos)
        out.append(v)
    return out


def _deltas(buf: bytes) -> list[int]:
    acc, out = 0, []
    for v in _varints(buf):
        acc += _zigzag_decode(v)
        out.append(acc)
    return out


def _coord(offset: int, granularity: int, raw: int | None) -> Decimal | None:
    return None if raw is None else Decimal(offset + granularity * raw).scaleb(-9)


def _row(eid, kind, tags, strings, info=NO_INFO, lat=None, lon=None, nds=(), members=()):
    return {
        "id": eid, "type": kind,
        "tags": list({strings[k]: strings[v] for k, v in tags}.items()),
        "lat": lat, "lon": lon, "nds": list(nds), "members": list(members),
        **{k: info[k] for k in ("changeset", "timestamp_ms", "uid", "user", "version", "visible")},
    }


def _info(pairs, strings: list[str], date_granularity: int) -> dict:
    """Info columns from (field, varint value) pairs, in wire order."""
    info = dict(NO_INFO)
    for f, v in pairs:
        if f in INFO_FIELDS:
            info[INFO_FIELDS[f]] = _i64(v)
        elif f == 5:
            info["user"] = strings[v]
        elif f == 6:
            info["visible"] = bool(v)
    if info["timestamp_ms"] is not None:
        info["timestamp_ms"] *= date_granularity
    return info


def _dense_tags(kv: list[int], n: int) -> list[list[tuple[int, int]]]:
    if kv.count(0) == n:  # one terminator per node: split on them
        out, seg = [], []
        for v in kv:
            if v:
                seg.append(v)
            else:
                out.append(list(zip(seg[0::2], seg[1::2])))
                seg = []
        return out
    out, pos = [], 0
    for _ in range(n):
        pairs = []
        while pos < len(kv) and kv[pos] != 0:
            pairs.append((kv[pos], kv[pos + 1]))
            pos += 2
        out.append(pairs)
        pos += 1
    return out


def _dense(buf: bytes, strings: list[str], grid: dict) -> list[dict]:
    fld = {f: bytes(v) for f, wire, v in _fields(buf) if wire == 2}
    dinfo = {f: bytes(v) for f, wire, v in _fields(fld.get(5, b"")) if wire == 2}
    ids, lats, lons = _deltas(fld.get(1, b"")), _deltas(fld.get(8, b"")), _deltas(fld.get(9, b""))
    cols = {f: _varints(dinfo[f]) if f in (1, 6) else _deltas(dinfo[f])
            for f in range(1, 7) if dinfo.get(f)}
    tags = _dense_tags(_varints(fld.get(10, b"")), len(ids))
    rows = []
    for i, nid in enumerate(ids):
        info = _info(((f, c[i]) for f, c in cols.items()), strings, grid[18])
        rows.append(_row(nid, "node", tags[i], strings, info,
                         _coord(grid[19], grid[17], lats[i]), _coord(grid[20], grid[17], lons[i])))
    return rows


def _message(kind: int, buf: bytes, strings: list[str], grid: dict) -> dict:
    m = {(f, wire): v for f, wire, v in _fields(buf)}
    eid = m.get((1, 0))
    if kind == 5:  # ChangeSet{1: id}: zeroed coordinates, default Info
        zero = Decimal(0).scaleb(-9)
        return _row(eid, "changeset", [], strings, lat=zero, lon=zero)
    tags = zip(_varints(m.get((2, 2), b"")), _varints(m.get((3, 2), b"")))
    info = _info(((f, v) for f, w, v in _fields(m.get((4, 2), b"")) if w == 0), strings, grid[18])
    if kind == 1:
        lat, lon = (m.get((f, 0)) for f in (8, 9))
        return _row(None if eid is None else _zigzag_decode(eid), "node", tags, strings, info,
                    _coord(grid[19], grid[17], None if lat is None else _zigzag_decode(lat)),
                    _coord(grid[20], grid[17], None if lon is None else _zigzag_decode(lon)))
    if kind == 3:
        return _row(eid, "way", tags, strings, info, nds=_deltas(m.get((8, 2), b"")))
    roles, types = _varints(m.get((8, 2), b"")), _varints(m.get((10, 2), b""))
    members = []
    for i, ref in enumerate(_deltas(m.get((9, 2), b""))):
        if types[i] >= len(MEMBER_TYPES):
            raise ValueError(f"unknown member type {types[i]}")
        members.append({"type": MEMBER_TYPES[types[i]], "ref": ref, "role": strings[roles[i]]})
    return _row(eid, "relation", tags, strings, info, members=members)


def decode_block(data: bytes) -> list[dict]:
    """PrimitiveBlock -> one row dict per entity, in wire order."""
    strings: list[str] = []
    groups: list[bytes] = []
    grid = {17: 100, 18: 1000, 19: 0, 20: 0}  # granularity, date_granularity, offsets
    for f, wire, v in _fields(data):
        if f == 1 and wire == 2:
            strings = [bytes(s).decode("utf-8")
                       for f2, w2, s in _fields(bytes(v)) if (f2, w2) == (1, 2)]
        elif f == 2 and wire == 2:
            groups.append(bytes(v))
        elif f in grid and wire == 0:
            grid[f] = _i64(v)
    rows: list[dict] = []
    for group in groups:
        for f, wire, v in _fields(group):
            if wire == 2 and f == 2:
                rows.extend(_dense(bytes(v), strings, grid))
            elif wire == 2 and f in (1, 3, 4, 5):
                rows.append(_message(f, bytes(v), strings, grid))
    return rows
