"""Reference-compatible CLI: ``osm2orc [--changesets] <input> <output>``.

Mirrors the reference entrypoint contract (Osm2Orc.java:12-41):
- default mode: PBF -> ORC
- ``--changesets``: changeset XML -> ORC
- input ``-``: read stdin (staged to a temp file first — Spark sources
  need a seekable path; Osm2Orc.java:33-36 wraps System.in directly —
  named ``.bz2`` / ``.gz`` when its magic bytes show that codec)
- ``--watch``: input is a LANDING DIRECTORY; run the Structured
  Streaming ingest instead of a batch job, appending ORC exactly-once
  as files arrive (the reference pipeline, made continuous — beyond
  the reference's batch-only surface). ``--once`` drains what is
  currently in the directory and exits (for cron-style incremental
  loads); without it the stream runs until interrupted.

- ``--write-orc``: osmosis-plugin compatibility mode (the reference's
  ``osmosis --rbf in.pbf --write-orc out.orc`` contract,
  osmosis/OrcWriterFactory.java:11-22): the output is a SINGLE ORC
  *file* named by ``file=<name>`` or a bare filename, defaulting to
  ``dump.osm.orc`` like the plugin. Single-file output implies a single
  writer task (the plugin is single-threaded too) — it is the
  compatibility path, not the scale path; the directory mode above is
  what a cluster job uses.

- ``--with-discussion`` (with ``--changesets``): append the opt-in
  ``comments ARRAY<STRUCT<date,uid,user,text>>`` column (the
  reference's explicit TODO, OsmPbf2Orc.java:193-195).

Usage:
    python -m osm2orc_spark.cli [--changesets [--with-discussion]] <input> <output-orc-dir>
    python -m osm2orc_spark.cli [--changesets] --watch [--once] <in-dir> <out-orc-dir>
    python -m osm2orc_spark.cli [--changesets] --write-orc [file=NAME | NAME] <input>
"""

from __future__ import annotations

import sys
import tempfile

from osm2orc_spark.session import get_spark
from osm2orc_spark.sinks.orc import write_orc
from osm2orc_spark.sources.changeset_xml import (
    codec_suffix,
    read_changesets,
    read_changesets_stream,
    stream_changesets_to_orc,
)
from osm2orc_spark.sources.pbf import read_pbf, read_pbf_bounds, read_pbf_stream


OSMOSIS_DEFAULT_FILE = "dump.osm.orc"  # OrcWriterFactory.java:13


def _write_single_orc_file(df, out: str, bounds) -> None:
    """Osmosis-plugin-shaped output: ONE ORC file at ``out`` (the plugin
    writes a single file, OrcWriter.java), with the same footer user
    metadata as the directory sink. coalesce(1) = one writer task."""
    import os
    import shutil

    stage = tempfile.mkdtemp(suffix=".orcstage")
    try:
        write_orc(
            df.coalesce(1),
            stage,
            bounds=bounds,
            sort_type_then_id="type" in df.columns,
        )
        part = next(
            f
            for f in sorted(os.listdir(stage))
            if f.endswith(".orc") and not f.startswith((".", "_"))
        )
        shutil.move(os.path.join(stage, part), out)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    changesets = watch = once = osmosis_mode = discussion = False
    while args and args[0] in (
        "--changesets",
        "--watch",
        "--once",
        "--write-orc",
        "--with-discussion",
    ):
        flag = args.pop(0)
        changesets |= flag == "--changesets"
        watch |= flag == "--watch"
        once |= flag == "--once"
        osmosis_mode |= flag == "--write-orc"
        # opt-in comments column (the reference's TODO surface,
        # OsmPbf2Orc.java:193-195); only meaningful with --changesets
        discussion |= flag == "--with-discussion"
    if osmosis_mode:
        # osmosis arg forms: `--write-orc out.orc`, `--write-orc file=out.orc`,
        # or no filename -> dump.osm.orc (OrcWriterFactory.java:11-22).
        out = OSMOSIS_DEFAULT_FILE
        rest = []
        for a in args:
            if a.startswith("file="):
                out = a[5:]
            else:
                rest.append(a)
        if len(rest) == 2:  # `--write-orc NAME input`
            out, rest = rest[0], rest[1:]
        if len(rest) != 1:
            print(__doc__, file=sys.stderr)
            return 2
        args = [rest[0], out]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    if discussion and not changesets:
        # refuse rather than silently ignore (r13 review): the flag only
        # means something for the changeset source
        print("--with-discussion requires --changesets", file=sys.stderr)
        return 2
    inp, out = args
    if inp == "-":
        data = sys.stdin.buffer.read()
        suffix = ".stdin" + codec_suffix(data)
        with tempfile.NamedTemporaryFile(delete=False, suffix=suffix) as tmp:
            tmp.write(data)
            inp = tmp.name

    from pyspark.sql import SparkSession

    # getOrCreate may hand back a caller's live session (tests, notebooks,
    # repeated in-process invocations) — only stop what this call created.
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="osm2orc")
    try:
        if watch:
            stream = (
                read_changesets_stream(spark, inp, include_discussion=discussion)
                if changesets
                else read_pbf_stream(spark, inp)
            )
            q = stream_changesets_to_orc(stream, out, out + "_checkpoint")
            try:
                if once:
                    q.processAllAvailable()
                else:
                    q.awaitTermination()
            finally:
                q.stop()
        elif osmosis_mode:
            df = (
                read_changesets(spark, inp, include_discussion=discussion)
                if changesets
                else read_pbf(spark, inp)
            )
            bounds = None if changesets else read_pbf_bounds(inp)
            _write_single_orc_file(df, out, bounds)
        elif changesets:
            write_orc(
                read_changesets(spark, inp, include_discussion=discussion),
                out,
                sort_type_then_id=False,
            )
        else:
            write_orc(read_pbf(spark, inp), out, bounds=read_pbf_bounds(inp))
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
