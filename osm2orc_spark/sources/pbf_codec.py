"""Pure-Python OSM PBF codec: blob framing + osmformat decode/encode.

Replaces the reference's osm4j-pbf dependency (reference build.gradle:27-28,
used via PbfIterator in standalone/OsmPbf2Orc.java:118-120) with a
self-contained implementation of the public OSM PBF spec
(wiki.openstreetmap.org/wiki/PBF_Format):

- file framing: [int4 BE header-len][BlobHeader][Blob], repeated
- BlobHeader {1:type, 2:indexdata, 3:datasize}
- Blob {1:raw, 2:raw_size, 3:zlib_data}
- HeaderBlock {1:bbox{1:left,2:right,3:top,4:bottom sint64 nanodeg}}
- PrimitiveBlock {1:stringtable{1:bytes*}, 2:group*, 17:granularity=100,
  18:date_granularity=1000, 19:lat_offset, 20:lon_offset}
- PrimitiveGroup {1:Node*, 2:DenseNodes, 3:Way*, 4:Relation*}
- DenseNodes {1:id sint64 packed delta, 5:DenseInfo, 8:lat, 9:lon packed
  delta, 10:keys_vals interleaved (0 terminates a node)}
- DenseInfo {1:version, 2:timestamp delta, 3:changeset delta, 4:uid delta,
  5:user_sid delta, 6:visible}
- Way {1:id, 2:keys, 3:vals, 4:Info, 8:refs sint64 packed delta}
- Relation {1:id, 2:keys, 3:vals, 4:Info, 8:roles_sid, 9:memids sint64
  packed delta, 10:types enum(0=node,1=way,2=relation)}
- Info {1:version, 2:timestamp, 3:changeset, 4:uid, 5:user_sid, 6:visible}

The encoder exists for test fixtures (the reference has no writer either;
its validation was manual runs on real extracts — SURVEY.md §5).

Coordinates decode via INTEGER nanodegree arithmetic into decimal
strings, so DECIMAL(9,7)/(10,7) casts downstream are exact and never
route through a double (mirrors the cell-exactness rule of SURVEY §2B/B4;
the reference's double path is reproduced bit-for-bit for 7-decimal
values, which is everything the default granularity=100 can encode).
"""

from __future__ import annotations

import os
import struct
import zlib
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

NANO = 10**9

# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _zigzag_decode(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _write_varint(out: bytearray, v: int) -> None:
    if v < 0:
        v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Yield (field_number, wire_type, value) over a message buffer."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        fieldno, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 1:
            val = struct.unpack_from("<q", buf, pos)[0]
            pos += 8
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            val = struct.unpack_from("<i", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield fieldno, wire, val


def _skip_field(buf: bytes, pos: int, wire: int) -> int:
    """Position just past the value of a field that is not length-delimited."""
    if wire == 0:
        return _read_varint(buf, pos)[1]
    if wire == 1:
        return pos + 8
    if wire == 5:
        return pos + 4
    raise ValueError(f"unsupported wire type {wire}")


def _packed_varints_np_offsets(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized packed-varint decode -> (uint64 values, int64 byte
    positions of each varint's first byte).

    Continuation bits mark varint boundaries, each byte's 7 payload bits
    are shifted into place by its offset within the varint, and a
    segmented sum (reduceat) folds the bytes of each varint together.
    64-bit wraparound matches two's-complement varint semantics (a
    10-byte varint's top bits drop)."""
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0 or a.max() < 0x80:  # every varint is a single byte
        return a.astype(np.uint64), np.arange(a.size, dtype=np.int64)
    starts = np.empty(a.size, dtype=bool)
    starts[0] = True
    np.less(a[:-1], 0x80, out=starts[1:])  # byte after a non-continuation byte
    start_idx = np.flatnonzero(starts)
    # offset of every byte within its own varint: position minus the
    # position of its varint's first byte
    group_start = np.repeat(start_idx, np.diff(start_idx, append=a.size))
    shifts = ((np.arange(a.size, dtype=np.int64) - group_start) * 7).astype(
        np.uint64
    )
    vals = (a & 0x7F).astype(np.uint64) << shifts
    return np.add.reduceat(vals, start_idx), start_idx


def _packed_varints_np(buf: bytes) -> np.ndarray:
    """Vectorized packed-varint decode -> uint64 array (the per-byte
    Python loop is the single hottest spot in block decode)."""
    return _packed_varints_np_offsets(buf)[0]


def _zigzag_np(v: np.ndarray) -> np.ndarray:
    return (v >> np.uint64(1)).astype(np.int64) ^ -(
        (v & np.uint64(1)).astype(np.int64)
    )


def _packed_deltas_np(buf: bytes) -> np.ndarray:
    """Packed delta-coded sint64 field -> int64 prefix sums (the PBF delta
    encoding of dense ids, coordinates and DenseInfo columns)."""
    return np.cumsum(_zigzag_np(_packed_varints_np(buf)))


def _tag(out: bytearray, fieldno: int, wire: int) -> None:
    _write_varint(out, (fieldno << 3) | wire)


def _emit_bytes(out: bytearray, fieldno: int, data: bytes) -> None:
    _tag(out, fieldno, 2)
    _write_varint(out, len(data))
    out.extend(data)


def _emit_varint(out: bytearray, fieldno: int, v: int) -> None:
    _tag(out, fieldno, 0)
    _write_varint(out, v)


def _emit_packed(out: bytearray, fieldno: int, vals: list[int], zigzag: bool = False) -> None:
    body = bytearray()
    for v in vals:
        _write_varint(body, _zigzag_encode(v) if zigzag else v)
    _emit_bytes(out, fieldno, bytes(body))


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


@dataclass
class BlobRef:
    """Location of one data blob inside a PBF file (the parallel split unit)."""

    path: str
    offset: int  # file offset of the Blob message body
    size: int
    kind: str  # 'OSMHeader' | 'OSMData'


# PBF spec hard limits (https://wiki.openstreetmap.org/wiki/PBF_Format):
# BlobHeader must be < 64 KiB, Blob must be < 32 MiB.  Enforcing them
# turns structural corruption (truncated files, garbage length words)
# into LOUD errors instead of a silently-empty or silently-partial scan
# — at planet scale a quiet drop of trailing blobs is unrecoverable
# data loss, so every task must fail visibly instead.
_BLOBHEADER_MAX = 64 * 1024
_BLOB_MAX = 32 * 1024 * 1024


def _checked_blob_header(header: bytes, header_len: int, where: str) -> tuple[str, int]:
    if not 0 < header_len < _BLOBHEADER_MAX:
        raise ValueError(
            f"BlobHeader length {header_len} outside (0, 64KiB) at {where} — not a PBF file?"
        )
    if len(header) != header_len:
        raise ValueError(f"truncated BlobHeader at {where}: {len(header)}/{header_len} bytes")
    kind, datasize = "", 0
    for fieldno, _, val in _fields(header):
        if fieldno == 1:
            kind = bytes(val).decode("utf-8")
        elif fieldno == 3:
            datasize = val
    if not kind:
        raise ValueError(f"BlobHeader without a type string at {where}")
    if not 0 < datasize < _BLOB_MAX:
        raise ValueError(f"Blob datasize {datasize} outside (0, 32MiB) at {where}")
    return kind, datasize


def scan_blob_index(path: str) -> list[BlobRef]:
    """Driver-side index scan: reads only the 4-byte lengths and
    BlobHeaders (a few hundred bytes per ~8 MB blob), never blob payloads.
    This is what makes PBF ingestion embarrassingly parallel: each BlobRef
    becomes an independent task that seeks straight to its payload.
    Structural corruption (truncated length/header/body) raises ValueError
    — see _checked_blob_header."""
    refs: list[BlobRef] = []
    filesize = os.path.getsize(path)
    with open(path, "rb") as f:
        while True:
            at = f.tell()
            lenbuf = f.read(4)
            if not lenbuf:
                break  # clean EOF on a blob boundary
            if len(lenbuf) < 4:
                raise ValueError(f"truncated blob length word at offset {at} of {path}")
            header_len = struct.unpack(">i", lenbuf)[0]
            header = f.read(max(header_len, 0))
            kind, datasize = _checked_blob_header(header, header_len, f"offset {at} of {path}")
            offset = f.tell()
            if offset + datasize > filesize:
                raise ValueError(
                    f"Blob at offset {at} of {path} extends past EOF "
                    f"({offset + datasize} > {filesize}): truncated file"
                )
            refs.append(BlobRef(path, offset, datasize, kind))
            f.seek(offset + datasize)
    return refs


def _bounded_inflate(data: bytes) -> bytes:
    """zlib-decompress with the spec's 32 MiB uncompressed hard limit —
    a zip-bomb blob fails loudly instead of exhausting task memory."""
    d = zlib.decompressobj()
    raw = d.decompress(data, _BLOB_MAX)
    # eof False == the stream did not END within the cap: either a bomb
    # (output cap hit with input left) or a truncated stream (input
    # exhausted mid-stream — zlib.decompress raised here; decompressobj
    # does not, so check explicitly)
    if not d.eof:
        raise ValueError(
            f"Blob zlib stream did not terminate within the spec's 32MiB "
            f"hard limit ({len(raw)} bytes out, "
            f"{len(d.unconsumed_tail)} in unconsumed): bomb or truncated"
        )
    return raw


def read_blob(ref: BlobRef) -> bytes:
    """Fetch + decompress one blob's payload (ranged read)."""
    with open(ref.path, "rb") as f:
        f.seek(ref.offset)
        blob = f.read(ref.size)
    if len(blob) != ref.size:
        raise ValueError(
            f"short read at offset {ref.offset} of {ref.path}: "
            f"{len(blob)}/{ref.size} bytes — file truncated since indexing?"
        )
    return _decompress_blob(blob)


def _decompress_blob(blob: bytes) -> bytes:
    raw = None
    for fieldno, _, val in _fields(blob):
        if fieldno == 1:
            raw = bytes(val)
        elif fieldno == 3:
            raw = _bounded_inflate(bytes(val))
        elif fieldno in (4, 5, 6, 7):
            raise ValueError("unsupported PBF compression (only raw/zlib)")
    if raw is None:
        raise ValueError("empty Blob")
    return raw


def iter_blobs_from_bytes(data: bytes):
    """Yield (kind, decompressed_payload) for every blob in an in-memory
    PBF file — the streaming-source twin of scan_blob_index+read_blob,
    for paths where the whole file arrives as one binary value.  Applies
    the same structural checks (truncation is a LOUD ValueError, never a
    silently-shorter stream)."""
    pos = 0
    n = len(data)
    while pos < n:
        at = pos  # blob start (the length word), for located errors
        if pos + 4 > n:
            raise ValueError(f"truncated blob length word at offset {at}")
        header_len = struct.unpack(">i", data[pos : pos + 4])[0]
        pos += 4
        header = data[pos : pos + max(header_len, 0)]
        pos += max(header_len, 0)
        kind, datasize = _checked_blob_header(header, header_len, f"offset {at}")
        if pos + datasize > n:
            raise ValueError(
                f"Blob at offset {at} extends past end of stream "
                f"({pos + datasize} > {n}): truncated file"
            )
        yield kind, _decompress_blob(data[pos : pos + datasize])
        pos += datasize


def decode_header_block(data: bytes) -> dict:
    """HeaderBlock -> {'bounds': (left, bottom, right, top) degrees} | {}.

    The bounds tuple ordering matches the reference's ORC user-metadata
    string "left, bottom, right, top" (OsmPbf2Orc.java:122-125)."""
    out: dict = {}
    for fieldno, _, val in _fields(data):
        if fieldno == 1:
            bbox = {}
            for f2, _, v2 in _fields(bytes(val)):
                bbox[f2] = _zigzag_decode(v2)
            if bbox:
                out["bounds"] = (
                    bbox.get(1, 0) / NANO,
                    bbox.get(4, 0) / NANO,
                    bbox.get(2, 0) / NANO,
                    bbox.get(3, 0) / NANO,
                )
    return out


# ---------------------------------------------------------------------------
# Block decode: one columnar path for every block.
#
# The string table becomes ONE zero-copy pa.StringArray over the raw table
# bytes, packed fields stay numpy end-to-end, and tag maps / user columns
# are C-side `take` gathers of string-table indices, so DenseNodes (the
# bulk of any file) never create a per-entity Python object.  Plain Node,
# Way, Relation and ChangeSet messages are sliced by one short Python walk
# each, and every field kind then decodes for the whole block in one
# concatenated vectorized pass.  Inputs the spec leaves open decode inside
# the same path, with the semantics of tests/pbf_reference.py, the scalar
# decoder the tests compare this path with:
# - a tag key repeated within one entity keeps its first position and its
#   last value (dict assignment; the changeset XML kernel does the same);
# - a key without a value is dropped, the way zip drops it;
# - a dense keys_vals stream without exactly one 0 per node (sid 0 used
#   as a value) is split by a scalar walk that reads it pair by pair;
# - Info that is not a pure varint alternation of fields 1..6 decodes one
#   entity at a time, skipping unknown fields by wire type;
# - a string table with strings of 128 bytes or more, or with fields other
#   than 1, is walked field by field;
# - invalid UTF-8 and truncated tables raise ValueError.
# ---------------------------------------------------------------------------

# Entity type names; relation member types are codes 0..2 of the same list.
_TYPE_NAMES = ("node", "way", "relation", "changeset")
# PrimitiveGroup field -> type code: Node, Way, Relation, ChangeSet
_MESSAGE_TYPES = {1: 0, 3: 1, 4: 2, 5: 3}
_N_MEMBER_TYPES = 3


def planet_arrow_schema():
    """The planet raw schema as a pure-pyarrow schema (no pyspark import;
    pinned equal to to_arrow_schema(PLANET_RAW_SCHEMA) by a test)."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("id", pa.int64()),
            pa.field("type", pa.string()),
            pa.field("tags", pa.map_(pa.string(), pa.string())),
            pa.field("lat", pa.decimal128(38, 9)),
            pa.field("lon", pa.decimal128(38, 9)),
            pa.field("nds", pa.list_(pa.int64())),
            pa.field(
                "members",
                pa.list_(
                    pa.struct(
                        [
                            pa.field("type", pa.string()),
                            pa.field("ref", pa.int64()),
                            pa.field("role", pa.string()),
                        ]
                    )
                ),
            ),
            pa.field("changeset", pa.int64()),
            pa.field("timestamp_ms", pa.int64()),
            pa.field("uid", pa.int64()),
            pa.field("user", pa.string()),
            pa.field("version", pa.int64()),
            pa.field("visible", pa.bool_()),
        ]
    )


def _nano_np_to_decimal128(nano: np.ndarray, valid: np.ndarray | None = None):
    """int64 nanodegrees -> decimal128(38, 9), null where ``valid`` is False.

    The decimal's unscaled value IS the nanodegree count, so the
    conversion is exact by construction (no float, no string): widen
    each int64 to a little-endian two's-complement int128 by pairing it
    with its sign extension, and hand both words to Array.from_buffers."""
    import pyarrow as pa

    n = len(nano)
    words = np.empty(2 * n, dtype=np.int64)
    words[0::2] = nano  # low word (little-endian host assumed: x86/arm64)
    words[1::2] = nano >> 63  # sign extension = high word
    validity = (
        None if valid is None else pa.py_buffer(np.packbits(valid, bitorder="little"))
    )
    return pa.Array.from_buffers(
        pa.decimal128(38, 9), n, [validity, pa.py_buffer(words)]
    )


def _string_spans(buf: bytes) -> tuple[list[int], list[int]]:
    """(start, end) of every field-1 payload of a StringTable, walked field
    by field: multi-byte lengths, other fields skipped by wire type."""
    starts: list[int] = []
    ends: list[int] = []
    pos, n = 0, len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        if key & 7 != 2:
            pos = _skip_field(buf, pos, key & 7)
            continue
        ln, pos = _read_varint(buf, pos)
        if pos + ln > n:
            raise ValueError(
                f"truncated string table: {ln}-byte entry at offset {pos} of {n}"
            )
        if key >> 3 == 1:
            starts.append(pos)
            ends.append(pos + ln)
        pos += ln
    return starts, ends


def _decode_string_table_arrow(buf: bytes):
    """StringTable -> ZERO-COPY pa.StringArray over the raw table bytes,
    2n interleaved entries: entry 2i covers what precedes string i's
    payload (its key and length bytes), entry 2i+1 is the payload, so sid
    s lives at 2s+1 (see _Block.take).  No per-string Python object is made.
    Raises ValueError on invalid UTF-8 or a truncated table."""
    import pyarrow as pa

    n = len(buf)
    # The common table has key 0x0A and a one-byte length on every entry:
    # a 2-ops-per-entry walk collects the entry starts with no checks in
    # the loop (the length chain is the one serial part).  The key and
    # length bytes are then checked vectorized; any entry the walk would
    # misparse shows a bad byte at some collected start, and such a table
    # (a string of 128+ bytes, another field) is walked field by field.
    starts: list[int] = []
    append = starts.append
    pos = 0
    try:
        while pos < n:
            append(pos)
            pos += 2 + buf[pos + 1]
    except IndexError:
        pos = -1
    a = np.frombuffer(buf, dtype=np.uint8)
    s = np.asarray(starts, dtype=np.int64)
    if pos == n and (a[s] == 0x0A).all() and (a[s + 1] < 0x80).all():
        begin, end = s + 2, np.append(s[1:], n)
        # every header byte is < 0x80, so none can join a multi-byte
        # sequence: the buffer is valid UTF-8 iff every payload is
        if not buf.isascii():
            buf.decode("utf-8")
    else:
        begin, end = (np.asarray(x, dtype=np.int64) for x in _string_spans(buf))
        # an ASCII separator ends any sequence a payload leaves open
        b"\n".join(buf[x:y] for x, y in zip(begin.tolist(), end.tolist())).decode(
            "utf-8"
        )
    m = len(begin)
    offs = np.zeros(2 * m + 1, dtype=np.int32)
    offs[1::2] = begin
    offs[2::2] = end
    return pa.StringArray.from_buffers(
        2 * m, pa.py_buffer(offs), pa.py_buffer(buf)
    )


def decode_primitive_block_arrow(data: bytes, arrow_schema=None):
    """PrimitiveBlock -> pyarrow RecordBatch in the planet raw schema, or
    None for a block with zero entities.  Fully columnar: numpy arrays
    flow straight into Arrow buffers, and tag maps and user names are
    `take` gathers on the string-table StringArray.  See the section
    comment above for how spec-open inputs decode."""
    import pyarrow as pa

    schema = arrow_schema if arrow_schema is not None else planet_arrow_schema()
    strings = pa.array([], type=pa.string())
    groups: list[bytes] = []
    grid = {17: 100, 18: 1000, 19: 0, 20: 0}  # granularity, date granularity, offsets
    for fieldno, wire, val in _fields(data):
        if fieldno == 1 and wire == 2:
            strings = _decode_string_table_arrow(bytes(val))
        elif fieldno == 2 and wire == 2:
            groups.append(bytes(val))
        elif fieldno in grid and wire == 0:
            # int64 fields: two's-complement varints, not zigzag
            grid[fieldno] = val - (1 << 64) if val >= (1 << 63) else val
    block = _Block(schema, strings, grid[17], grid[18], grid[19], grid[20])

    # Plain Node / Way / Relation / ChangeSet messages accumulate across
    # ALL groups and flush once per block, or just before a dense group so
    # rows keep wire order: writers may put one message per group, and a
    # flush per group paid the ~30-Arrow-call batch assembly per ENTITY
    # (measured 18.3 s on a 46k-way block vs 0.25 s accumulated).
    messages: list[tuple[int, bytes]] = []
    for group in groups:
        posg, ng = 0, len(group)
        while posg < ng:
            keyg = group[posg]
            posg += 1
            if keyg >= 0x80:
                keyg, posg = _read_varint(group, posg - 1)
            fieldno, wireg = keyg >> 3, keyg & 7
            if wireg != 2:
                posg = _skip_field(group, posg, wireg)
                continue
            lng = group[posg]
            posg += 1
            if lng >= 0x80:
                lng, posg = _read_varint(group, posg - 1)
            gbuf = group[posg : posg + lng]
            posg += lng
            if fieldno == 2:
                if messages:
                    _emit_messages_arrow(block, messages)
                    messages = []
                _emit_dense_arrow(block, gbuf)
            elif fieldno in _MESSAGE_TYPES:
                messages.append((fieldno, gbuf))
    if messages:
        _emit_messages_arrow(block, messages)

    if not block.chunks["id"]:
        return None
    arrays = [
        pa.concat_arrays(block.chunks[f.name])
        if len(block.chunks[f.name]) > 1
        else block.chunks[f.name][0]
        for f in schema
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


class _Block:
    """Per-block decode state: the string table, the coordinate and date
    grids, and the column chunks emitted so far."""

    def __init__(self, schema, strings, granularity, date_granularity, lat_offset, lon_offset):
        import pyarrow as pa

        self.schema = schema
        self.strings = strings
        self.n_strings = len(strings) // 2
        self.granularity = granularity
        self.date_granularity = date_granularity
        self.lat_offset = lat_offset
        self.lon_offset = lon_offset
        self.vocab = pa.array(_TYPE_NAMES)
        self.chunks: dict[str, list] = {f.name: [] for f in schema}

    def emit(self, name: str, arr) -> None:
        self.chunks[name].append(arr)

    def take(self, sids: np.ndarray, present: np.ndarray | None = None):
        """C-side gather of strings by sid (raises on an out-of-range sid).
        The table is the interleaved 2n-entry array, so sid s lives at
        2s+1 (and 2s+1 < 2n <=> s < n); masked slots gather null."""
        import pyarrow as pa
        import pyarrow.compute as pc

        idx = 2 * sids.astype(np.int64) + 1
        return pc.take(
            self.strings, pa.array(idx, mask=None if present is None else ~present)
        )

    def types(self, codes: np.ndarray):
        import pyarrow as pa
        import pyarrow.compute as pc

        return pc.take(self.vocab, pa.array(codes.astype(np.int32)))

    def tag_map(self, counts: np.ndarray, keys: np.ndarray, vals: np.ndarray):
        """Tag maps from per-entity pair counts and flat key / value sids.
        A key repeated within one entity keeps its first position and its
        last value.  Only entities with two or more pairs can repeat a
        key: one sort of their (entity, key) codes finds duplicates, and
        only a block that has one pays for the masking."""
        import pyarrow as pa

        if keys.size:
            top = int(keys.max())
            if top >= self.n_strings:  # also keeps the codes below collision-free
                raise IndexError(f"tag key sid {top} outside the string table")
            multi = np.flatnonzero(counts > 1)
            seg = np.repeat(multi, counts[multi])
            first_pair = np.cumsum(counts) - counts
            pair = np.repeat(first_pair[multi], counts[multi]) + _pos_in_segment(counts[multi])
            code = (seg << 32) | keys[pair].astype(np.int64)
            if (np.diff(np.sort(code)) == 0).any():
                order = np.argsort(code, kind="stable")
                code, pair = code[order], pair[order]
                head = np.concatenate(([True], np.diff(code) != 0))
                tail = np.concatenate((head[1:], [True]))
                vals = vals.copy()
                vals[pair[head]] = vals[pair[tail]]
                keep = np.ones(keys.size, dtype=bool)
                keep[pair[~head]] = False
                keys, vals = keys[keep], vals[keep]
                counts = counts - np.bincount(code[~head] >> 32, minlength=len(counts))
        return pa.MapArray.from_arrays(
            _offsets(counts), self.take(keys), self.take(vals)
        )


def _offsets(counts: np.ndarray):
    import pyarrow as pa

    o = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=o[1:])
    return pa.array(o)


def _empty_list_array(n: int, list_type):
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32)),
        pa.array([], type=list_type.value_type),
    )


def _dense_tag_pairs(kv: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """DenseNodes keys_vals -> (pairs per node, key sids, value sids).

    With exactly one 0 per node, sid 0 is never a value: the stream
    splits on its zeros, vectorized, and a dangling key (an odd segment)
    is dropped the way zip drops it.  Any other stream uses sid 0 as a
    value (or lacks terminators), and is read pair by pair, where only a
    0 in key position ends a node."""
    if not kv.any():
        empty = np.empty(0, dtype=np.uint64)
        return np.zeros(n, dtype=np.int64), empty, empty
    zpos = np.flatnonzero(kv == 0)
    if len(zpos) == n:
        seg_lens = np.diff(zpos, prepend=-1) - 1
        counts = seg_lens // 2
        if not (seg_lens % 2).any():
            pairs = kv[: zpos[-1]]
            pairs = pairs[pairs != 0]
            return counts, pairs[0::2], pairs[1::2]
        key_pos = np.repeat(zpos - seg_lens, counts) + 2 * _pos_in_segment(counts)
    else:
        kvl = kv.tolist()
        counts = np.zeros(n, dtype=np.int64)
        positions: list[int] = []
        pos, end = 0, len(kvl)
        for i in range(n):
            first = len(positions)
            while pos < end and kvl[pos] != 0:
                positions.append(pos)
                pos += 2
            counts[i] = len(positions) - first
            pos += 1
        key_pos = np.asarray(positions, dtype=np.int64)
    return counts, kv[key_pos], kv[key_pos + 1]


def _emit_dense_arrow(block: _Block, gbuf: bytes) -> None:
    """DenseNodes -> one set of column arrays, zero per-entity Python:
    packed fields decode as whole arrays, and tag maps and users are
    `take` gathers on the string table."""
    import pyarrow as pa

    fld = {f: bytes(v) for f, wire, v in _fields(gbuf) if wire == 2}
    ids = _packed_deltas_np(fld.get(1, b""))
    n = len(ids)
    if n == 0:
        return
    # an empty packed DenseInfo field counts as absent
    info = {f: bytes(v) for f, wire, v in _fields(fld.get(5, b"")) if wire == 2 and v}

    counts, keys, vals = _dense_tag_pairs(_packed_varints_np(fld.get(10, b"")), n)
    block.emit("tags", block.tag_map(counts, keys, vals))

    lats = _packed_deltas_np(fld.get(8, b""))
    lons = _packed_deltas_np(fld.get(9, b""))
    block.emit("id", pa.array(ids))
    block.emit("type", block.types(np.zeros(n, dtype=np.int32)))
    block.emit("lat", _nano_np_to_decimal128(block.lat_offset + block.granularity * lats))
    block.emit("lon", _nano_np_to_decimal128(block.lon_offset + block.granularity * lons))
    block.emit("nds", _empty_list_array(n, block.schema.field("nds").type))
    block.emit("members", _empty_list_array(n, block.schema.field("members").type))

    def delta_col(f: int, scale: int = 1):
        if f not in info:
            return pa.nulls(n, pa.int64())
        return pa.array(_packed_deltas_np(info[f]) * scale)

    block.emit("changeset", delta_col(3))
    block.emit("timestamp_ms", delta_col(2, block.date_granularity))
    block.emit("uid", delta_col(4))
    block.emit(
        "user",
        block.take(_packed_deltas_np(info[5])) if 5 in info else pa.nulls(n, pa.string()),
    )
    block.emit(
        "version",
        pa.array(_packed_varints_np(info[1]).astype(np.int64))
        if 1 in info
        else pa.array(np.full(n, -1, dtype=np.int64)),
    )
    block.emit(
        "visible",
        pa.array(_packed_varints_np(info[6]).astype(bool))
        if 6 in info
        else pa.array(np.ones(n, dtype=bool)),
    )


def _concat_varints(bufs: list) -> tuple[np.ndarray, np.ndarray]:
    """Decode a list of whole-varint buffers in ONE vectorized pass ->
    (uint64 values, per-buffer varint counts).  Buffer boundaries always
    coincide with varint starts (each buffer holds complete varints), so
    per-buffer counts fall out of a searchsorted over the start
    positions of the concatenated stream."""
    concat = b"".join(bufs)
    vals, start_idx = _packed_varints_np_offsets(concat)
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    byte_offs = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum(lens, out=byte_offs[1:])
    counts = np.diff(np.searchsorted(start_idx, byte_offs))
    return vals, counts


def _segmented_delta(s: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment prefix sum of a flat value array: one global cumsum,
    then subtract each segment's incoming base (the PBF delta encoding,
    restarted per way/relation)."""
    if s.size == 0:
        return s
    g = np.cumsum(s)
    first = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    nz = counts > 0
    base = np.zeros(len(counts), dtype=np.int64)
    base[nz] = g[first[nz]] - s[first[nz]]
    return g - np.repeat(base, counts)


def _pos_in_segment(counts: np.ndarray) -> np.ndarray:
    first = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    return np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(first, counts)


def _segment_heads(vals: np.ndarray, counts: np.ndarray, keep: np.ndarray) -> np.ndarray:
    """The first keep[i] values of each segment i of a flat array."""
    return vals[_pos_in_segment(counts) < np.repeat(keep, counts)]


def _info_fields_scalar(info_bufs: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(field, value, entity) of every varint Info field 1..6, walked one
    entity at a time with unknown fields skipped by wire type."""
    fields: list[int] = []
    vals: list[int] = []
    segs: list[int] = []
    for i, buf in enumerate(info_bufs):
        for f, wire, v in _fields(buf):
            if wire == 0 and 1 <= f <= 6:
                fields.append(f)
                vals.append(v)
                segs.append(i)
    return (
        np.asarray(fields, dtype=np.int64),
        np.asarray(vals, dtype=np.uint64).astype(np.int64),
        np.asarray(segs, dtype=np.int64),
    )


def _emit_info_arrow(block: _Block, info_bufs: list) -> None:
    """Info messages -> the six Info columns.  Info holds only varint
    fields 1..6, so the concatenated Info stream is normally a strict
    key,value alternation that decodes in one vectorized pass.  If any
    key has a non-varint wire type or a field number outside 1..6 (an
    extension, or a smuggled payload that would desync the alternation),
    the block's Info is walked per entity instead.  Either way the
    (field, value, entity) triples scatter into per-entity arrays, and a
    repeated field keeps its last value."""
    import pyarrow as pa

    n = len(info_bufs)
    ivals, icounts = _concat_varints(info_bufs)
    ik = ivals[0::2]
    ifield = (ik >> np.uint64(3)).astype(np.int64)
    if (
        (icounts % 2).any()
        or (ik & np.uint64(7)).any()
        or ((ifield < 1) | (ifield > 6)).any()
    ):
        ifield, iv, iseg = _info_fields_scalar(info_bufs)
    else:
        iv = ivals[1::2].astype(np.int64)
        iseg = np.repeat(np.arange(n, dtype=np.int64), icounts // 2)
    vals = np.zeros((7, n), dtype=np.int64)
    present = np.zeros((7, n), dtype=bool)
    vals[1] = -1  # version default
    vals[6] = 1  # visible default
    vals[ifield, iseg] = iv
    present[ifield, iseg] = True
    block.emit("changeset", pa.array(vals[3], mask=~present[3]))
    block.emit(
        "timestamp_ms", pa.array(vals[2] * block.date_granularity, mask=~present[2])
    )
    block.emit("uid", pa.array(vals[4], mask=~present[4]))
    if present[5].any():
        block.emit("user", block.take(vals[5], present[5]))
    else:
        block.emit("user", pa.nulls(n, pa.string()))
    block.emit("version", pa.array(vals[1]))
    block.emit("visible", pa.array(vals[6] != 0))


def _emit_messages_arrow(block: _Block, messages: list) -> None:
    """Plain Node / Way / Relation / ChangeSet messages -> column arrays,
    with NO per-entity field decode: the Python walk only SLICES each
    message's fields (keys, vals, Info, refs, roles, memids, types), and
    every field kind then decodes in ONE concatenated vectorized pass:
    segmented zigzag / prefix sums for the delta fields, `take` gathers
    for the strings.  A ChangeSet carries only its id: zeroed
    coordinates, no tags, default Info.  Values >= 2^63 wrap to int64."""
    import pyarrow as pa

    n = len(messages)
    eids: list["int | None"] = []
    type_codes: list[int] = []
    info_bufs: list[bytes] = []
    key_bufs: list[bytes] = []
    val_bufs: list[bytes] = []
    refs_bufs: list[bytes] = []
    roles_bufs: list[bytes] = []
    memids_bufs: list[bytes] = []
    types_bufs: list[bytes] = []
    # coordinates exist only on plain nodes and changesets
    coord_rows: list[int] = []
    coords: list[tuple] = []  # (lat nano, lat present, lon nano, lon present)
    grain, lat0, lon0 = block.granularity, block.lat_offset, block.lon_offset

    for i, (kind, gbuf) in enumerate(messages):
        eid = lat = lon = None
        info_b = key_b = val_b = refs_b = roles_b = memids_b = types_b = b""
        pos2, n2 = 0, len(gbuf)
        while pos2 < n2:
            key2 = gbuf[pos2]
            pos2 += 1
            if key2 >= 0x80:
                key2, pos2 = _read_varint(gbuf, pos2 - 1)
            f2, wire2 = key2 >> 3, key2 & 7
            if wire2 == 0:
                v2, pos2 = _read_varint(gbuf, pos2)
                if f2 == 1:
                    eid = v2
                elif f2 == 8:
                    lat = v2
                elif f2 == 9:
                    lon = v2
            elif wire2 == 2:
                ln2 = gbuf[pos2]
                pos2 += 1
                if ln2 >= 0x80:
                    ln2, pos2 = _read_varint(gbuf, pos2 - 1)
                v2 = gbuf[pos2 : pos2 + ln2]
                pos2 += ln2
                if kind == 5:
                    continue
                if f2 == 2:
                    key_b = v2
                elif f2 == 3:
                    val_b = v2
                elif f2 == 4:
                    info_b = v2
                elif f2 == 8:
                    if kind == 3:
                        refs_b = v2
                    elif kind == 4:
                        roles_b = v2
                elif f2 == 9 and kind == 4:
                    memids_b = v2
                elif f2 == 10 and kind == 4:
                    types_b = v2
            else:
                pos2 = _skip_field(gbuf, pos2, wire2)
        if kind == 1:  # Node ids and coordinates are zigzag sint64
            eid = None if eid is None else _zigzag_decode(eid)
            coord_rows.append(i)
            coords.append((
                0 if lat is None else lat0 + grain * _zigzag_decode(lat), lat is not None,
                0 if lon is None else lon0 + grain * _zigzag_decode(lon), lon is not None,
            ))
        elif kind == 5:
            coord_rows.append(i)
            coords.append((0, True, 0, True))
        eids.append(eid)
        type_codes.append(_MESSAGE_TYPES[kind])
        info_bufs.append(info_b)
        key_bufs.append(key_b)
        val_bufs.append(val_b)
        refs_bufs.append(refs_b)
        roles_bufs.append(roles_b)
        memids_bufs.append(memids_b)
        types_bufs.append(types_b)

    # --- tags: one decode per side; zip drops a side's surplus ----------
    kvals, kcounts = _concat_varints(key_bufs)
    vvals, vcounts = _concat_varints(val_bufs)
    counts = np.minimum(kcounts, vcounts)
    if (kcounts != vcounts).any():
        kvals = _segment_heads(kvals, kcounts, counts)
        vvals = _segment_heads(vvals, vcounts, counts)

    # --- ways' nds / relations' members: segmented vector decode ------
    rvals, rcounts = _concat_varints(refs_bufs)
    refs_flat = _segmented_delta(_zigzag_np(rvals), rcounts)
    mvals, mcounts = _concat_varints(memids_bufs)
    mem_flat = _segmented_delta(_zigzag_np(mvals), mcounts)
    tvals, tcounts = _concat_varints(types_bufs)
    rolevals, rolecounts = _concat_varints(roles_bufs)
    if (tcounts < mcounts).any() or (rolecounts < mcounts).any():
        raise IndexError("relation has fewer member types or roles than memids")
    # trailing types/roles beyond the memid count are never read
    kept_t = _segment_heads(tvals, tcounts, mcounts).astype(np.int64)
    kept_r = _segment_heads(rolevals, rolecounts, mcounts)
    bad = kept_t >= _N_MEMBER_TYPES
    if bad.any():
        raise ValueError(f"unknown member type {int(kept_t[np.argmax(bad)])}")

    block.emit("id", pa.array(eids, type=pa.int64()))
    block.emit("type", block.types(np.asarray(type_codes, dtype=np.int32)))
    block.emit("tags", block.tag_map(counts, kvals, vvals))
    if coord_rows:
        rows = np.asarray(coord_rows, dtype=np.int64)
        c = np.asarray(coords, dtype=np.int64).reshape(-1, 4)
        for col, j in (("lat", 0), ("lon", 2)):
            nano = np.zeros(n, dtype=np.int64)
            valid = np.zeros(n, dtype=bool)
            nano[rows] = c[:, j]
            valid[rows] = c[:, j + 1] != 0
            block.emit(col, _nano_np_to_decimal128(nano, valid))
    else:
        block.emit("lat", pa.nulls(n, pa.decimal128(38, 9)))
        block.emit("lon", pa.nulls(n, pa.decimal128(38, 9)))
    block.emit("nds", pa.ListArray.from_arrays(_offsets(rcounts), pa.array(refs_flat)))
    member_struct = pa.StructArray.from_arrays(
        [block.types(kept_t), pa.array(mem_flat), block.take(kept_r)],
        names=["type", "ref", "role"],
    )
    block.emit("members", pa.ListArray.from_arrays(_offsets(mcounts), member_struct))
    _emit_info_arrow(block, info_bufs)


# ---------------------------------------------------------------------------
# encode (fixture writer)
# ---------------------------------------------------------------------------


@dataclass
class PbfWriter:
    """Minimal PBF writer for building test fixtures.

    Entities are dicts: {'id','type','tags','lat','lon' (degrees float or
    str),'nds','members','changeset','timestamp_ms','uid','user','version',
    'visible'}. Nodes are written as DenseNodes (exercising delta + string
    table decode paths); ways/relations as their messages with Info.

    Encoding variants (no real extract is reachable offline, so the
    writer emits the encoding SPACE real producers use and the property
    suite certifies decode across it):

    - ``compression``: 'zlib' (osmosis/osmium default) or 'raw'
      (uncompressed Blob field 1 — legal and seen in the wild).
    - ``granularity`` / ``lat_offset`` / ``lon_offset``: non-default
      coordinate grids (PrimitiveBlock fields 17/19/20; coordinate =
      offset + granularity*raw).  Coordinates snap to the grid by
      floor division — byte-exact round-trip requires grid-aligned
      inputs, which the variant tests generate.
    - ``date_granularity``: timestamp unit (field 18).
    - ``plain_nodes``: plain Node messages (PrimitiveGroup field 1)
      instead of DenseNodes — the route old/unusual producers emit."""

    bounds: tuple[float, float, float, float] | None = None  # left,bottom,right,top
    compression: str = "zlib"
    granularity: int = 100
    date_granularity: int = 1000
    lat_offset: int = 0  # nanodegrees
    lon_offset: int = 0
    plain_nodes: bool = False
    _entities: list[dict] = field(default_factory=list)

    def add(self, **entity) -> None:
        self._entities.append(entity)

    # -- string table ------------------------------------------------------
    def _build_strings(self) -> tuple[list[str], dict[str, int]]:
        # Index 0 is the DenseNodes keys_vals delimiter (format spec:
        # encoders must never reference entry 0).  Leaving "" out of the
        # intern index means an actual empty string (tag value, role)
        # interns as a SECOND "" entry at a non-zero index, keeping the
        # kv stream unambiguous for any compliant reader.
        table = [""]  # index 0 reserved, never referenced
        index: dict[str, int] = {}

        def intern(s: str) -> int:
            if s not in index:
                index[s] = len(table)
                table.append(s)
            return index[s]

        for e in self._entities:
            for k, v in (e.get("tags") or {}).items():
                intern(k)
                intern(v)
            if e.get("user") is not None:
                intern(e["user"])
            for m in e.get("members") or []:
                intern(m[2] if isinstance(m, tuple) else m["role"])
        return table, index

    def _encode_info(self, e: dict, index: dict[str, int]) -> bytes:
        out = bytearray()
        _emit_varint(out, 1, e.get("version", 1))
        if e.get("timestamp_ms") is not None:
            _emit_varint(out, 2, e["timestamp_ms"] // self.date_granularity)
        if e.get("changeset") is not None:
            _emit_varint(out, 3, e["changeset"])
        if e.get("uid") is not None:
            _emit_varint(out, 4, e["uid"])
        if e.get("user") is not None:
            _emit_varint(out, 5, index[e["user"]])
        _emit_varint(out, 6, 1 if e.get("visible", True) else 0)
        return bytes(out)

    @staticmethod
    def _deg_to_nano(v) -> int:
        # exact: accept str ('12.3456789') or float; route via str to
        # avoid binary-fraction drift in fixtures
        s = str(v)
        neg = s.startswith("-")
        if neg:
            s = s[1:]
        whole, _, frac = s.partition(".")
        nano = int(whole) * NANO + int((frac + "000000000")[:9] or 0)
        return -nano if neg else nano

    def _encode_dense(self, nodes: list[dict], index: dict[str, int]) -> bytes:
        ids, lats, lons, kvs = [], [], [], []
        versions, tss, css, uids, sids, viss = [], [], [], [], [], []
        prev = {"id": 0, "lat": 0, "lon": 0, "ts": 0, "cs": 0, "uid": 0, "sid": 0}
        for e in nodes:
            ids.append(e["id"] - prev["id"])
            prev["id"] = e["id"]
            lat = (self._deg_to_nano(e["lat"]) - self.lat_offset) // self.granularity
            lon = (self._deg_to_nano(e["lon"]) - self.lon_offset) // self.granularity
            lats.append(lat - prev["lat"])
            prev["lat"] = lat
            lons.append(lon - prev["lon"])
            prev["lon"] = lon
            for k, v in (e.get("tags") or {}).items():
                kvs.extend([index[k], index[v]])
            kvs.append(0)
            versions.append(e.get("version", 1))
            ts = (e.get("timestamp_ms") or 0) // self.date_granularity
            tss.append(ts - prev["ts"])
            prev["ts"] = ts
            cs = e.get("changeset") or 0
            css.append(cs - prev["cs"])
            prev["cs"] = cs
            uid = e.get("uid") or 0
            uids.append(uid - prev["uid"])
            prev["uid"] = uid
            sid = index.get(e.get("user") or "", 0)
            sids.append(sid - prev["sid"])
            prev["sid"] = sid
            viss.append(1 if e.get("visible", True) else 0)
        dinfo = bytearray()
        _emit_packed(dinfo, 1, versions)
        _emit_packed(dinfo, 2, tss, zigzag=True)
        _emit_packed(dinfo, 3, css, zigzag=True)
        _emit_packed(dinfo, 4, uids, zigzag=True)
        _emit_packed(dinfo, 5, sids, zigzag=True)
        _emit_packed(dinfo, 6, viss)
        dense = bytearray()
        _emit_packed(dense, 1, ids, zigzag=True)
        _emit_bytes(dense, 5, bytes(dinfo))
        _emit_packed(dense, 8, lats, zigzag=True)
        _emit_packed(dense, 9, lons, zigzag=True)
        _emit_packed(dense, 10, kvs)
        group = bytearray()
        _emit_bytes(group, 2, bytes(dense))
        return bytes(group)

    def _encode_plain_nodes(self, nodes: list[dict], index: dict[str, int]) -> bytes:
        """One PrimitiveGroup of plain Node messages (field 1, repeated):
        absolute sint64 id/lat/lon, packed key/val indices, full Info."""
        group = bytearray()
        for e in nodes:
            out = bytearray()
            _emit_varint(out, 1, _zigzag_encode(e["id"]))
            tags = e.get("tags") or {}
            _emit_packed(out, 2, [index[k] for k in tags])
            _emit_packed(out, 3, [index[v] for v in tags.values()])
            _emit_bytes(out, 4, self._encode_info(e, index))
            lat = (self._deg_to_nano(e["lat"]) - self.lat_offset) // self.granularity
            lon = (self._deg_to_nano(e["lon"]) - self.lon_offset) // self.granularity
            _emit_varint(out, 8, _zigzag_encode(lat))
            _emit_varint(out, 9, _zigzag_encode(lon))
            _emit_bytes(group, 1, bytes(out))
        return bytes(group)

    def _encode_way(self, e: dict, index: dict[str, int]) -> bytes:
        out = bytearray()
        _emit_varint(out, 1, e["id"])
        tags = e.get("tags") or {}
        _emit_packed(out, 2, [index[k] for k in tags])
        _emit_packed(out, 3, [index[v] for v in tags.values()])
        _emit_bytes(out, 4, self._encode_info(e, index))
        deltas = []
        prev = 0
        for r in e.get("nds") or []:
            deltas.append(r - prev)
            prev = r
        _emit_packed(out, 8, deltas, zigzag=True)
        group = bytearray()
        _emit_bytes(group, 3, bytes(out))
        return bytes(group)

    def _encode_relation(self, e: dict, index: dict[str, int]) -> bytes:
        type_ids = {"node": 0, "way": 1, "relation": 2}
        out = bytearray()
        _emit_varint(out, 1, e["id"])
        tags = e.get("tags") or {}
        _emit_packed(out, 2, [index[k] for k in tags])
        _emit_packed(out, 3, [index[v] for v in tags.values()])
        _emit_bytes(out, 4, self._encode_info(e, index))
        members = [
            m if isinstance(m, tuple) else (m["type"], m["ref"], m["role"])
            for m in e.get("members") or []
        ]
        _emit_packed(out, 8, [index[m[2]] for m in members])
        deltas = []
        prev = 0
        for m in members:
            deltas.append(m[1] - prev)
            prev = m[1]
        _emit_packed(out, 9, deltas, zigzag=True)
        _emit_packed(out, 10, [type_ids[m[0]] for m in members])
        group = bytearray()
        _emit_bytes(group, 4, bytes(out))
        return bytes(group)

    def _encode_changeset_entity(self, e: dict) -> bytes:
        """One PrimitiveGroup of a ChangeSet entity (group field 5) —
        the osmformat message carries only {1: id}."""
        out = bytearray()
        _emit_varint(out, 1, e["id"])
        group = bytearray()
        _emit_bytes(group, 5, bytes(out))
        return bytes(group)

    def _blob(self, kind: str, payload: bytes, out: bytearray) -> None:
        blob = bytearray()
        if self.compression == "raw":
            _emit_bytes(blob, 1, payload)  # Blob.raw — legal, uncompressed
        elif self.compression == "zlib":
            _emit_varint(blob, 2, len(payload))
            _emit_bytes(blob, 3, zlib.compress(payload))
        else:
            raise ValueError(f"unsupported compression: {self.compression!r}")
        header = bytearray()
        _emit_bytes(header, 1, kind.encode())
        _emit_varint(header, 3, len(blob))
        out.extend(struct.pack(">i", len(header)))
        out.extend(header)
        out.extend(blob)

    def tobytes(self, nodes_per_block: int | None = None) -> bytes:
        out = bytearray()
        # header blob
        hb = bytearray()
        if self.bounds is not None:
            left, bottom, right, top = self.bounds
            bbox = bytearray()
            _emit_varint(bbox, 1, _zigzag_encode(self._deg_to_nano(left)))
            _emit_varint(bbox, 2, _zigzag_encode(self._deg_to_nano(right)))
            _emit_varint(bbox, 3, _zigzag_encode(self._deg_to_nano(top)))
            _emit_varint(bbox, 4, _zigzag_encode(self._deg_to_nano(bottom)))
            _emit_bytes(hb, 1, bytes(bbox))
        _emit_bytes(hb, 4, b"OsmSchema-V0.6")
        if not self.plain_nodes:  # required feature only when actually used
            _emit_bytes(hb, 4, b"DenseNodes")
        self._blob("OSMHeader", bytes(hb), out)

        strings, index = self._build_strings()

        def primitive_block(groups: list[bytes]) -> bytes:
            st = bytearray()
            for s in strings:
                _emit_bytes(st, 1, s.encode("utf-8"))
            pb = bytearray()
            _emit_bytes(pb, 1, bytes(st))
            for g in groups:
                _emit_bytes(pb, 2, g)
            # non-default grids are emitted explicitly (defaults omitted,
            # like real producers)
            if self.granularity != 100:
                _emit_varint(pb, 17, self.granularity)
            if self.date_granularity != 1000:
                _emit_varint(pb, 18, self.date_granularity)
            if self.lat_offset:
                _emit_varint(pb, 19, self.lat_offset)
            if self.lon_offset:
                _emit_varint(pb, 20, self.lon_offset)
            return bytes(pb)

        nodes = [e for e in self._entities if e["type"] == "node"]
        ways = [e for e in self._entities if e["type"] == "way"]
        rels = [e for e in self._entities if e["type"] == "relation"]
        chunk = nodes_per_block or len(nodes) or 1
        enc_nodes = self._encode_plain_nodes if self.plain_nodes else self._encode_dense
        for i in range(0, len(nodes), chunk):
            batch = nodes[i : i + chunk]
            if batch:
                self._blob("OSMData", primitive_block([enc_nodes(batch, index)]), out)
        changesets = [e for e in self._entities if e["type"] == "changeset"]
        groups = (
            [self._encode_way(w, index) for w in ways]
            + [self._encode_relation(r, index) for r in rels]
            + [self._encode_changeset_entity(c) for c in changesets]
        )
        if groups:
            self._blob("OSMData", primitive_block(groups), out)
        return bytes(out)

    def write(self, path: str, nodes_per_block: int | None = None) -> None:
        with open(path, "wb") as f:
            f.write(self.tobytes(nodes_per_block))

