"""Deterministic OSM-shaped fixtures (FIXTURES.md).

Three artifacts, all seed-deterministic:
- planet / planet_history / changesets rows (FIXTURES.md §1-2 edge cases:
  NaN-coord nodes, empty tags, 0-nd ways, 2000+-nd ways, role '', open /
  anonymous / bbox-less changesets, full-7-decimal bboxes, bboxes inside the
  Liberty Island box of reference README.md:238-241, JOSM created_by values,
  multi-version history with deletes)
- fixtures/tiny.osm.pbf + changesets.osm.xml raw-ingest files (§3)
- parquet copies under fixtures/ for the DuckDB oracle to read.

The coordinate pool uses only values with <=7 decimal places so the
DECIMAL(9,7)/(10,7) casts are exact end-to-end.
"""

from __future__ import annotations

import random
from decimal import Decimal

BBOX = ("-74.06", "40.68", "-74.03", "40.70")  # left, bottom, right, top

CREATED_BY = ["JOSM/1.5", "JOSM/1.8", "iD 2.0", "Potlatch 2", "JOSM"]


def _coord(rng: random.Random, lo: float, hi: float) -> str:
    """Random coordinate string with exactly 7 decimals (survives DECIMAL)."""
    v = rng.randint(int(lo * 10**7), int(hi * 10**7))
    sign = "-" if v < 0 else ""
    a = abs(v)
    return f"{sign}{a // 10**7}.{a % 10**7:07d}"


def planet_history_entities(seed: int = 42, n_nodes: int = 1200, n_ways: int = 80, n_rels: int = 12) -> list[dict]:
    """Entity dicts (PBF-writer shape + per-version rows)."""
    rng = random.Random(seed)
    entities: list[dict] = []
    base_ts = 1_420_070_400_000  # 2015-01-01T00:00:00Z

    def info(i: int, version: int):
        uid = rng.choice([101, 102, 103, 104])
        user = {101: "alice", 102: "bob", 103: "carol", 104: "dave"}[uid]
        return {
            "changeset": 1000 + (i * 7 + version) % 500,
            "timestamp_ms": base_ts + (i * 86_400_000 + version * 3_600_000) % (5 * 365 * 86_400_000),
            "uid": uid,
            "user": user,
        }

    for i in range(1, n_nodes + 1):
        n_versions = 1 if i % 5 else rng.randint(2, 4)
        lat, lon = _coord(rng, 40.68, 40.70), _coord(rng, -74.06, -74.03)
        for v in range(1, n_versions + 1):
            tags = {}
            if i % 3 == 0:
                tags["highway"] = rng.choice(["residential", "track", "primary"])
            if i % 7 == 0 and v >= 2:
                tags["tracktype"] = f"grade{1 + i % 5}"  # added in v2: window test
            if i % 11 == 0:
                tags["name"] = f"node-{i}"
            deleted = (v == n_versions) and (i % 10 == 0) and n_versions > 1
            entities.append(
                {
                    "id": i,
                    "type": "node",
                    "tags": {} if deleted else tags,
                    "lat": lat,
                    "lon": lon,
                    "version": v,
                    "visible": not deleted,
                    **info(i, v),
                }
            )
    # special nodes
    entities.append({"id": n_nodes + 1, "type": "node", "tags": {}, "lat": "0.0000000", "lon": "0.0000000", "version": 1, "visible": True, **info(n_nodes + 1, 1)})
    entities.append({"id": n_nodes + 2, "type": "node", "tags": {"name": "liberty"}, "lat": "40.6892494", "lon": "-74.0445004", "version": 1, "visible": True, **info(n_nodes + 2, 1)})

    way_base = 10_000
    for i in range(1, n_ways + 1):
        wid = way_base + i
        n_versions = 1 if i % 4 else 2
        nds = rng.sample(range(1, n_nodes + 1), k=min(rng.randint(2, 12), n_nodes))
        if i == 1:
            nds = []  # 0-nd way
        if i == 2:
            nds = [rng.randint(1, n_nodes) for _ in range(2100)]  # batch-boundary stress
        if i == 3:
            nds = nds + [999_999]  # dangling ref
        for v in range(1, n_versions + 1):
            tags = {"highway": rng.choice(["residential", "track"])} if i % 2 else {}
            if i % 6 == 0:
                tags["tracktype"] = f"grade{i % 5 + 1}"
            deleted = v == n_versions and i % 9 == 0 and n_versions > 1
            entities.append(
                {
                    "id": wid,
                    "type": "way",
                    "tags": {} if deleted else tags,
                    "lat": None,
                    "lon": None,
                    "nds": nds,
                    "version": v,
                    "visible": not deleted,
                    **info(wid, v),
                }
            )
    rel_base = 20_000
    for i in range(1, n_rels + 1):
        rid = rel_base + i
        members = []
        if i > 1:  # relation 1 has 0 members
            members = [
                ("node", rng.randint(1, n_nodes), "stop"),
                ("way", way_base + rng.randint(1, n_ways), ""),  # role ''
            ]
            if i % 3 == 0:
                members.append(("relation", rel_base + (i % n_rels) + 1, "subarea"))
        entities.append(
            {
                "id": rid,
                "type": "relation",
                "tags": {"type": "route"} if i % 2 else {},
                "lat": None,
                "lon": None,
                "members": members,
                "version": 1,
                "visible": True,
                **info(rid, 1),
            }
        )
    return entities


def changeset_rows(seed: int = 42, n: int = 400) -> list[dict]:
    rng = random.Random(seed + 1)
    rows = []
    base = 1_420_070_400  # seconds
    for i in range(1, n + 1):
        created = base + i * 3600
        is_open = i % 17 == 0
        anonymous = i % 13 == 0
        no_bbox = i % 11 == 0
        tags = {}
        if i % 3 == 0:
            tags["comment"] = f"edit #{i}"
        if i % 4 == 0:
            tags["created_by"] = rng.choice(CREATED_BY)
        if i % 29 == 0:
            # bbox inside Liberty Island (README.md:238-241)
            bbox = {
                "min_lat": "40.6890000",
                "max_lat": "40.6900000",
                "min_lon": "-74.0460000",
                "max_lon": "-74.0440000",
            }
        elif no_bbox:
            bbox = {"min_lat": None, "max_lat": None, "min_lon": None, "max_lon": None}
        else:
            lat1, lat2 = sorted([_coord(rng, 40.0, 41.0), _coord(rng, 40.0, 41.0)], key=Decimal)
            lon1, lon2 = sorted([_coord(rng, -75.0, -73.0), _coord(rng, -75.0, -73.0)], key=Decimal)
            bbox = {"min_lat": lat1, "max_lat": lat2, "min_lon": lon1, "max_lon": lon2}
        # discussion: exactly comments_count comments (the planet dump
        # keeps the attribute and the <discussion> list in agreement);
        # every 13th commenter is anonymous (no uid/user), every 7th
        # text carries XML-hostile characters, every 5th a newline
        n_comments = i % 5
        discussion = []
        for j in range(n_comments):
            c_anon = (i + j) % 13 == 0
            text = f"comment {j + 1} on changeset {i}"
            if (i + j) % 7 == 0:
                text += ' — needs <review> & "fixes"'
            if (i + j) % 5 == 0:
                text += "\nsecond line"
            discussion.append(
                {
                    "date": created + 1800 + j * 600,
                    "uid": None if c_anon else 200 + (i + j) % 11,
                    "user": None if c_anon else f"commenter{200 + (i + j) % 11}",
                    "text": text,
                }
            )
        rows.append(
            {
                "id": i,
                "tags": tags,
                "created_at": created,
                "open": is_open,
                "closed_at": None if is_open else created + rng.randint(60, 86_400),
                "comments_count": n_comments,
                "num_changes": rng.randint(1, 200),
                "uid": None if anonymous else 100 + i % 7,
                "user": None if anonymous else f"user{100 + i % 7}",
                "discussion": discussion,
                **bbox,
            }
        )
    return rows


def _iso(sec: int | None) -> str | None:
    if sec is None:
        return None
    import datetime as dt

    return dt.datetime.fromtimestamp(sec, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def changesets_xml(rows: list[dict]) -> str:
    """Render rows as the reference's input XML shape
    (ChangesetXmlHandler.java:42-62 structure). Attribute values are
    XML-escaped — user names and tag k/v legitimately contain &, <, "
    in real OSM dumps."""
    from xml.sax.saxutils import quoteattr

    out = ['<?xml version="1.0" encoding="UTF-8"?>']
    out.append('<osm license="ODbL" version="0.6">')
    for r in rows:
        attrs = [f'id="{r["id"]}"']
        if r["created_at"] is not None:
            attrs.append(f'created_at="{_iso(r["created_at"])}"')
        if r["closed_at"] is not None:
            attrs.append(f'closed_at="{_iso(r["closed_at"])}"')
        attrs.append(f'open="{"true" if r["open"] else "false"}"')
        if r["uid"] is not None:
            attrs.append(f'uid="{r["uid"]}"')
        if r["user"] is not None:
            attrs.append(f"user={quoteattr(r['user'])}")
        for k in ("min_lat", "min_lon", "max_lat", "max_lon"):
            if r[k] is not None:
                attrs.append(f'{k}="{r[k]}"')
        attrs.append(f'num_changes="{r["num_changes"]}"')
        attrs.append(f'comments_count="{r["comments_count"]}"')
        discussion = r.get("discussion") or []
        if r["tags"] or discussion:
            out.append(f'  <changeset {" ".join(attrs)}>')
            for k, v in r["tags"].items():
                out.append(f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>")
            if discussion:
                from xml.sax.saxutils import escape

                out.append("    <discussion>")
                for c in discussion:
                    cattrs = [f'date="{_iso(c["date"])}"']
                    if c["uid"] is not None:
                        cattrs.append(f'uid="{c["uid"]}"')
                    if c["user"] is not None:
                        cattrs.append(f"user={quoteattr(c['user'])}")
                    # <text> stays INLINE: element text is significant,
                    # pretty-printed indentation would leak into it
                    out.append(
                        f'      <comment {" ".join(cattrs)}>'
                        f"<text>{escape(c['text'])}</text></comment>"
                    )
                out.append("    </discussion>")
            out.append("  </changeset>")
        else:
            out.append(f'  <changeset {" ".join(attrs)}/>')
    out.append("</osm>")
    return "\n".join(out)


def write_pbf_fixture(path: str, seed: int = 42, nodes_per_block: int = 500) -> int:
    """Write fixtures/tiny.osm.pbf (multi-blob: exercises parallel decode)."""
    from osm2orc_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter(bounds=tuple(float(v) for v in BBOX))
    entities = planet_history_entities(seed)
    for e in entities:
        w.add(**e)
    w.write(path, nodes_per_block=nodes_per_block)
    return len(entities)


def planet_cs_entities(seed: int = 7) -> list[dict]:
    """Mixed-entity fixture for the ChangeSet-in-entity-table surface
    (the reference TODO's other half, OsmPbf2Orc.java:193: changesets in
    the entity table with zeroed lat/lon): a small planet history plus
    ChangeSet entities (PrimitiveGroup field 5, message carries only the
    id).  Ids are drawn deterministically and overlap the node-id range
    on purpose — the entity table's key is (type, id), not id alone."""
    ents = planet_history_entities(seed=seed, n_nodes=120, n_ways=8, n_rels=2)
    rng = random.Random(seed + 1)
    for i in sorted(rng.sample(range(1, 5_000), 25)):
        ents.append({"id": i, "type": "changeset"})
    return ents


def write_pbf_cs_fixture(path: str, seed: int = 7, nodes_per_block: int = 64) -> int:
    """Write fixtures/tiny_cs.osm.pbf (nodes+ways+relations+changesets)."""
    from osm2orc_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter(bounds=tuple(float(v) for v in BBOX))
    entities = planet_cs_entities(seed)
    for e in entities:
        w.add(**e)
    w.write(path, nodes_per_block=nodes_per_block)
    return len(entities)


def write_xml_fixture(path: str, seed: int = 42) -> int:
    rows = changeset_rows(seed)
    with open(path, "w") as f:
        f.write(changesets_xml(rows))
    return len(rows)
