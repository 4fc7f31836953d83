"""Changeset XML source: ``<osm><changeset ...><tag k v/>...</osm>`` files
-> DataFrame with CHANGESET_SCHEMA.

Reference behavior being reproduced (not ported): SAX push-parse with an
element-processor stack (standalone/OsmChangesetXml2Orc.java:92-94,
parser/ChangesetXmlHandler.java:42-82, parser/ChangesetElementProcessor
.java:27-74). Spark-first design: Spark's text source cuts the file into
``<changeset `` records and its own file splits, each task reassembles
its records into one document for a streaming ``iterparse``, and raw
string attributes become a typed DataFrame via declarative casts so
Catalyst owns every conversion.

Cell semantics (SURVEY.md §2B):
- bbox decimals parsed from STRING, never through double (B4)
- created_at/closed_at -> NULL on absence or parse failure (B6)
- uid/user nullable — anonymous changesets (B7)
- open = string equality with 'true' (B12)
- tags: possibly-empty map, never NULL (B11)
- id/num_changes/comments_count are required attributes; like the
  reference, a file missing them is malformed (Long.parseLong would
  throw) — we surface None -> nullable column rather than crashing the
  whole job, which is the distributed-friendly choice.

Scale: XML escapes ``<`` in attribute values and text, so the string
``<changeset `` occurs only as a start tag, and every occurrence is a
place to cut a changeset file.  ``read_changesets`` reads with that
string as the text source's line separator, so Spark's file-split rule
sets the task count (4 tasks for a 22.6 MB file on 4 cores) and packs
small files of a glob into one task.  Plain and ``.bz2`` files split
(Hadoop decompresses bzip2 per split); ``.gz`` is one task per file.
Each task streams the records of each of its file splits into one
document: the first split keeps the file's prolog and ``<osm>`` root
(checked as before), every other split gets the file's XML declaration
and a bare ``<osm>``, and only the split that ends the file goes without
a synthetic ``</osm>``, so a truncated file fails to parse.  A file that
Spark may split is read at both ends on the driver first: its
declaration, and its end, which must close the root (the task holding a
file's last record cannot tell it is the last when the file's final
split starts inside it).  Per-task memory is one Arrow batch of records
and one of rows.  A split that falls inside CDATA, a comment or a
processing instruction leaves a document that does not parse, so the
job fails rather than mis-splitting.  The streaming reader keeps one
task per landed file (``binaryFile``).
"""

from __future__ import annotations

import bz2
import gzip
import io
import re
from collections.abc import Iterator
from itertools import groupby, islice
from urllib.parse import unquote, urlsplit
from xml.etree.ElementTree import ParseError, iterparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2orc_spark import transforms as X
from osm2orc_spark.schemas import (
    CHANGESET_DISCUSSION_RAW_SCHEMA,
    CHANGESET_RAW_SCHEMA,
)


class NotAChangesetFileError(ValueError):
    """Root element is not <osm> (reference ChangesetXmlHandler.java:57)."""


def codec_suffix(data: bytes) -> str:
    """``.bz2`` / ``.gz`` when ``data`` starts with that codec's magic
    bytes, else ``""``: the text source picks its codec by file name."""
    if data[:3] == b"BZh":
        return ".bz2"
    if data[:2] == b"\x1f\x8b":
        return ".gz"
    return ""


def _open_stream(name: str, data: bytes):
    codec = codec_suffix(data)
    if name.endswith(".bz2") or codec == ".bz2":
        return io.BytesIO(bz2.decompress(data))
    if name.endswith(".gz") or codec == ".gz":
        return io.BytesIO(gzip.decompress(data))
    return io.BytesIO(data)


def _long(v: str | None) -> int | None:
    try:
        return int(v)  # type: ignore[arg-type]
    except (TypeError, ValueError):
        return None


def parse_changeset_stream(
    name: str, data: bytes, include_discussion: bool = False
) -> Iterator[dict]:
    """Stream rows from one XML file's bytes, decompressing ``.bz2`` /
    ``.gz`` content (by name or magic bytes) first."""
    return _changeset_rows(name, _open_stream(name, data), include_discussion)


def _changeset_rows(
    name: str, stream, include_discussion: bool = False
) -> Iterator[dict]:
    """Stream rows (CHANGESET_RAW_SCHEMA order; + ``comments`` when
    ``include_discussion``) from one XML document.

    Discussion shape (the reference's TODO, OsmPbf2Orc.java:193-195;
    the planet changeset dump's actual element layout):
    ``<discussion><comment date uid user><text>..</text></comment>
    </discussion>``.  Comment text is captured at the <text> END event —
    the streaming ``elem.clear()`` wipes child text before the parent
    <comment> closes, so reading it lazily at <comment> would see None.
    Zero-comment changesets get an EMPTY list, never NULL (the tags
    convention, B11)."""
    root_seen = False
    cs_attrs: dict | None = None
    tags: dict[str, str] = {}
    comments: list[dict] = []
    pending_text: str | None = None
    in_comment = False
    for event, elem in iterparse(stream, events=("start", "end")):
        tag = elem.tag.rsplit("}", 1)[-1]
        if event == "start":
            if not root_seen:
                if tag != "osm":
                    raise NotAChangesetFileError(
                        f"{name}: root element <{tag}> is not <osm>"
                    )
                root_seen = True
            elif tag == "changeset":
                cs_attrs = dict(elem.attrib)
                tags = {}
                comments = []
                in_comment = False
                pending_text = None
            elif tag == "comment":
                # reset at comment START (r13 advice): a stray <text>
                # outside any <comment> (malformed input) must not leak
                # into the next comment, possibly in a later changeset
                in_comment = True
                pending_text = None
        else:  # end
            if tag == "tag" and cs_attrs is not None:
                k, v = elem.get("k"), elem.get("v")
                if k is not None:
                    tags[k] = v if v is not None else ""
            elif tag == "text" and cs_attrs is not None and in_comment:
                pending_text = elem.text if elem.text is not None else ""
            elif tag == "comment" and cs_attrs is not None:
                in_comment = False
                if include_discussion:
                    comments.append(
                        {
                            "date": elem.get("date"),
                            "uid": _long(elem.get("uid")),
                            "user": elem.get("user"),
                            "text": pending_text,
                        }
                    )
                pending_text = None
            elif tag == "changeset" and cs_attrs is not None:
                a = cs_attrs
                row = {
                    "id": _long(a.get("id")),
                    "tags": tags,
                    "created_at": a.get("created_at"),
                    "open": a.get("open"),
                    "closed_at": a.get("closed_at"),
                    "comments_count": _long(a.get("comments_count")),
                    "min_lat": a.get("min_lat"),
                    "max_lat": a.get("max_lat"),
                    "min_lon": a.get("min_lon"),
                    "max_lon": a.get("max_lon"),
                    "num_changes": _long(a.get("num_changes")),
                    "uid": _long(a.get("uid")),
                    "user": a.get("user"),
                }
                if include_discussion:
                    row["comments"] = comments
                yield row
                cs_attrs = None
            elem.clear()


def _raw_schema(include_discussion: bool):
    return (
        CHANGESET_DISCUSSION_RAW_SCHEMA
        if include_discussion
        else CHANGESET_RAW_SCHEMA
    )


def _parse_file_batches(include_discussion: bool = False):
    """mapInArrow worker factory over the binaryFile source: each
    (path, content) row parses to one RecordBatch — whole columnar
    batches to the JVM, no per-row pickling (same Arrow path as
    sources/pbf.py)."""
    raw_schema = _raw_schema(include_discussion)

    def worker(batches) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(raw_schema)
        for batch in batches:
            for r in batch.to_pylist():
                rows = list(
                    parse_changeset_stream(
                        r["path"], r["content"], include_discussion
                    )
                )
                if rows:
                    yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return worker


# The text source's record separator: every ``<changeset `` start tag.
_CHANGESET_OPEN = b"<changeset "
# A record that ends its document: the root's close tag (or an empty
# root), followed only by whitespace, comments or processing instructions.
_ROOT_CLOSED = re.compile(
    rb"(?:</osm\s*>|<osm\b[^>]*/>)(?:\s|<!--.*?-->|<\?.*?\?>)*\Z", re.S
)
# A file's XML declaration, after an optional UTF-8 byte order mark.
_DECLARATION = re.compile(rb"(?:\xef\xbb\xbf)?(<\?xml\s[^?]*\?>)")


def _check_uncompressed(path: str, head: bytes) -> None:
    """A file's first bytes are not bzip2/gzip content: the text source
    picks its codec by file name, so a compressed file under a plain name
    would reach the parser undecoded."""
    if codec_suffix(head):
        raise NotAChangesetFileError(
            f"{path}: bzip2/gzip content without a .bz2/.gz name"
        )


class _Chunks:
    """File-like ``read`` over an iterator of byte chunks, so ``iterparse``
    pulls a split's records as the Arrow batches arrive."""

    def __init__(self, chunks: Iterator[bytes]):
        self._chunks = chunks

    def read(self, size: int = -1) -> bytes:
        return b"".join(islice(self._chunks, 64))


def _split_document(
    path: str, records: Iterator[bytes], head: bool, at_end: bool, prolog: bytes
) -> Iterator[bytes]:
    """The chunks of one document over the records of one file split.

    The first split's first record is the file's own prolog and ``<osm``
    root; any other split opens with ``prolog`` (the file's XML
    declaration) and a bare ``<osm>``.  The split that ends the file keeps
    the file's own end, so a truncated file does not parse.  Any other
    split gets a ``</osm>`` unless its last record already closes the root,
    which happens when the file's last split holds no record start."""
    if head:
        last = next(records)
        _check_uncompressed(path, last)
        yield last
    else:
        last = b""
        yield prolog + b"<osm>"
    for last in records:
        yield _CHANGESET_OPEN + last
    if not at_end and not _ROOT_CLOSED.search(last):
        yield b"</osm>"


def _parse_split_batches(
    include_discussion: bool, prologs: dict[str, bytes], batch_rows: int
):
    """mapInArrow worker factory over the text source's (path, start,
    at_end, record) rows: the records of each file split parse as one
    document, streamed across Arrow batches, into RecordBatches of up to
    ``batch_rows`` rows (all rows when it is not positive)."""
    raw_schema = _raw_schema(include_discussion)

    def worker(batches) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(raw_schema)

        def records():
            for batch in batches:
                c = batch.to_pydict()
                yield from zip(c["path"], c["start"], c["at_end"], c["record"])

        def document(path, start, at_end, run):
            prolog = prologs.get(unquote(urlsplit(path).path), b"")
            records = (r[3] for r in run)
            return _Chunks(_split_document(path, records, start == 0, at_end, prolog))

        rows = (
            row
            for key, run in groupby(records(), key=lambda r: r[:3])
            for row in _changeset_rows(key[0], document(*key, run), include_discussion)
        )
        while out := list(islice(rows, batch_rows if batch_rows > 0 else None)):
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return worker


def _file_ends(fs, path, size: int, codec, by_block) -> tuple[bytes, bytes]:
    """The first bytes and the last bytes of a plain or bzip2 file's
    content: 64 KiB of a plain file's end, every bzip2 block that starts in
    the last 256 KiB (or more, until one does)."""
    if codec is None:
        inp = fs.open(path)
        try:
            inp.seek(max(0, size - (64 << 10)))
            tail = bytes(inp.readNBytes(64 << 10))
            inp.seek(0)
            return bytes(inp.readNBytes(256)), tail
        finally:
            inp.close()
    inp = codec.createInputStream(fs.open(path))
    try:
        head = bytes(inp.readNBytes(256))
    finally:
        inp.close()
    window = 1 << 18
    while True:
        start = max(0, size - window)
        inp = codec.createInputStream(
            fs.open(path), codec.createDecompressor(), start, size, by_block
        )
        try:
            tail = bytes(inp.readAllBytes())
        finally:
            inp.close()
        if tail or start == 0:
            return head, tail
        window *= 4


def _split_file_prologs(spark: SparkSession, files: list[str]) -> dict[str, bytes]:
    """Check each file Spark may cut into several splits on the driver, and
    return its XML declaration keyed by the file's decoded path.

    The task that reads a file's last record cannot tell it is the last
    when the file's final split starts inside that record (that split then
    reads no record), so the end of the file is read here: it must close
    the ``<osm>`` root, else the file is truncated.  The declaration gives
    the encoding that the splits after the first are parsed in.  A file no
    larger than min(maxPartitionBytes, openCostInBytes) is one split, as is
    a file whose codec does not split (gzip): its one task sees both ends."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    sql_conf = spark._jsparkSession.sessionState().conf()
    one_split = min(sql_conf.filesMaxPartitionBytes(), sql_conf.filesOpenCostInBytes())
    compress = jvm.org.apache.hadoop.io.compress
    codecs = compress.CompressionCodecFactory(hconf)
    splittable = compress.SplittableCompressionCodec._java_lang_class
    by_block = getattr(compress, "SplittableCompressionCodec$READ_MODE").BYBLOCK
    prologs = {}
    for uri in files:
        path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri))
        fs = path.getFileSystem(hconf)
        status = fs.getFileStatus(path)
        codec = codecs.getCodec(path)
        if status.getLen() <= one_split or not (
            codec is None or splittable.isInstance(codec)
        ):
            continue
        head, tail = _file_ends(fs, path, status.getLen(), codec, by_block)
        _check_uncompressed(uri, head)
        if not _ROOT_CLOSED.search(tail):
            raise ParseError(f"{uri}: no </osm> root close at the end (truncated?)")
        declaration = _DECLARATION.match(head)
        prologs[status.getPath().toUri().getPath()] = (
            declaration.group(1) if declaration else b""
        )
    return prologs


def read_changesets(
    spark: SparkSession, path: str, include_discussion: bool = False
) -> DataFrame:
    """Read changeset XML file(s) at ``path`` (glob ok; .xml/.gz/.bz2),
    split across tasks at ``<changeset `` start tags.  A file that Spark
    splits is checked for truncation here; any other fails in its task.

    ``include_discussion`` (opt-in — the reference's TODO surface,
    OsmPbf2Orc.java:193-195) appends ``comments
    ARRAY<STRUCT<date TIMESTAMP, uid BIGINT, user STRING, text STRING>>``;
    the default output schema is unchanged."""
    text = spark.read.option("lineSep", _CHANGESET_OPEN.decode()).text(path)
    block_end = F.col("_metadata.file_block_start") + F.col("_metadata.file_block_length")
    records = text.select(
        F.col("_metadata.file_path").alias("path"),
        F.col("_metadata.file_block_start").alias("start"),
        (block_end >= F.col("_metadata.file_size")).alias("at_end"),
        F.col("value").cast("binary").alias("record"),
    )
    worker = _parse_split_batches(
        include_discussion,
        _split_file_prologs(spark, text.inputFiles()),
        int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
    )
    raw = records.mapInArrow(worker, _raw_schema(include_discussion))
    return _typed(raw)


def read_changesets_stream(
    spark: SparkSession, dir_path: str, include_discussion: bool = False
) -> DataFrame:
    """Streaming changeset ingestion: XML files landing in ``dir_path``
    are parsed incrementally — the reference's batch pipeline
    (OsmChangesetXml2Orc) as a continuous one. Same parse kernel and
    typed projection as the batch reader; only the source differs
    (binaryFile file-stream, which tracks processed files in the
    checkpoint). Pair with stream_changesets_to_orc for an incremental
    ORC table."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(dir_path)
        .select("path", "content")
    )
    raw = files.mapInArrow(
        _parse_file_batches(include_discussion), _raw_schema(include_discussion)
    )
    return _typed(raw)


def stream_changesets_to_orc(stream_df: DataFrame, out_path: str, checkpoint: str):
    """foreachBatch ORC sink, exactly-once: each micro-batch lands in its
    own ``_batch_id=N`` partition via DYNAMIC partition overwrite, so a
    batch replayed after a failure-before-checkpoint overwrites its own
    partition instead of appending duplicates — idempotent without any
    side ledger (foreachBatch itself is only at-least-once; the write
    must supply the idempotence). Same writer options as the batch CLI
    (block padding off). Returns the StreamingQuery; callers stop it (or
    processAllAvailable for bounded input). Readers drop the _batch_id
    partition column (or keep it as ingestion lineage)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_orc(batch_df, batch_id, out_path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_batch_orc(batch_df: DataFrame, batch_id: int, out_path: str) -> None:
    """The idempotent per-batch write: replaying (batch_df, batch_id)
    rewrites the same ``_batch_id`` partition, leaving the table
    unchanged. Module-level so tests can replay a batch directly."""
    (
        batch_df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .format("orc")
        .option("orc.block.padding", "false")
        .save(out_path)
    )


def _typed(raw: DataFrame) -> DataFrame:
    cols = [
        F.col("id"),
        F.coalesce("tags", F.map_from_arrays(F.array(), F.array())).alias("tags"),
        X.optional_timestamp(F.col("created_at")).alias("created_at"),
        X.open_flag(F.col("open")).alias("open"),
        X.optional_timestamp(F.col("closed_at")).alias("closed_at"),
        F.col("comments_count"),
        X.bbox_decimal_from_string(F.col("min_lat")).alias("min_lat"),
        X.bbox_decimal_from_string(F.col("max_lat")).alias("max_lat"),
        X.bbox_decimal_from_string(F.col("min_lon"), lon=True).alias("min_lon"),
        X.bbox_decimal_from_string(F.col("max_lon"), lon=True).alias("max_lon"),
        F.col("num_changes"),
        F.col("uid"),
        F.col("user"),
    ]
    if "comments" in raw.columns:
        # nested typed projection: comment dates go through the SAME
        # optional-timestamp cast as created_at/closed_at (B6 semantics
        # element-wise); empty lists stay empty, never NULL (B11)
        cols.append(
            F.transform(
                F.coalesce("comments", F.array()),
                lambda c: F.struct(
                    X.optional_timestamp(c["date"]).alias("date"),
                    c["uid"].alias("uid"),
                    c["user"].alias("user"),
                    c["text"].alias("text"),
                ),
            ).alias("comments")
        )
    return raw.select(*cols)
