"""Seeded benchmark inputs, generated before any timing and cached per seed.

``osm_inputs`` builds the ingest files: a planet-history PBF whose header
carries a bbox, its frame-concatenated multiple, a changeset XML file, and
the expectations the output checks compare against.  ``table_inputs``
builds the ten query tables (TPC-H-shaped star schema plus events,
documents and embeddings) as parquet, with the schemas, row counts and
value ranges of the sf0.1 test data the queries were written against.

Generation runs in a child process (``python3 osmbench/inputs.py``), so
the list-of-dicts fixture build never inflates the measured process
tree's peak memory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".osmbench_cache")

# left, bottom, right, top: fixtures.BBOX, the box the generated nodes fill
PBF_BOUNDS = (-74.06, 40.68, -74.03, 40.7)
N_SAMPLE = 64  # entities whose cells the output check compares

# Table row counts per unit of scale factor; documents and embeddings keep
# the test data's own sizes (500 rows below sf0.1).
TABLE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def _run_child(*args: str) -> None:
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args], check=True, cwd=ROOT
    )


def osm_inputs(seed: int, n_nodes: int, mult: int, n_changesets: int) -> dict:
    """Paths and expectations for the ingest workload, generated on first use."""
    d = os.path.join(CACHE_DIR, f"osm_s{seed}_n{n_nodes}_x{mult}_c{n_changesets}")
    meta = os.path.join(d, "expect.json")
    if not os.path.exists(meta):
        _run_child("osm", d, str(seed), str(n_nodes), str(mult), str(n_changesets))
    with open(meta) as f:
        return json.load(f)


def table_inputs(seed: int, sf: float) -> str:
    """Directory holding the ten query tables for ``seed`` at ``sf``."""
    d = os.path.join(CACHE_DIR, f"tables_s{seed}_sf{sf}")
    if not os.path.exists(os.path.join(d, "_done")):
        _run_child("tables", d, str(seed), str(sf))
    return d


def concat_frames(src: str, dst: str, mult: int) -> None:
    """Write ``dst`` as the header frame of ``src`` followed by its data
    frames repeated ``mult`` times: raw bytes, no re-encode.  Ids repeat
    across copies; the latest-version snapshot folds them back to one."""
    from osm2orc_spark.sources.pbf_codec import scan_blob_index

    with open(src, "rb") as f:
        raw = f.read()
    frames, start = [], 0
    for ref in scan_blob_index(src):
        end = ref.offset + ref.size
        frames.append((raw[start:end], ref.kind))
        start = end
    with open(dst + ".tmp", "wb") as f:
        f.writelines(b for b, kind in frames if kind == "OSMHeader")
        for _ in range(mult):
            f.writelines(b for b, kind in frames if kind == "OSMData")
    os.replace(dst + ".tmp", dst)


def sample_cells(entities: list[dict], seed: int) -> list[dict]:
    import random

    rng = random.Random(seed)
    picks = rng.sample(entities, min(N_SAMPLE, len(entities)))
    return [
        {
            "type": e["type"],
            "id": e["id"],
            "version": e["version"],
            "lat": e.get("lat"),
            "lon": e.get("lon"),
            "timestamp_ms": e["timestamp_ms"],
            "visible": e["visible"],
            "tags": e["tags"],
        }
        for e in picks
    ]


def _gen_osm(d: str, seed: int, n_nodes: int, mult: int, n_changesets: int) -> None:
    from osm2orc_spark.fixtures import (
        changeset_rows,
        changesets_xml,
        planet_history_entities,
    )
    from osm2orc_spark.sources.pbf_codec import PbfWriter

    os.makedirs(d, exist_ok=True)
    ents = planet_history_entities(
        seed=seed, n_nodes=n_nodes, n_ways=n_nodes // 15, n_rels=n_nodes // 100
    )
    w = PbfWriter(bounds=PBF_BOUNDS)
    for e in ents:
        w.add(**e)
    base = os.path.join(d, "base.osm.pbf")
    w.write(base, nodes_per_block=8000)
    big = os.path.join(d, f"x{mult}.osm.pbf")
    concat_frames(base, big, mult)
    xml = os.path.join(d, "changesets.osm.xml")
    with open(xml, "w") as f:
        f.write(changesets_xml(changeset_rows(seed=seed, n=n_changesets)))
    expect = {
        "base_pbf": base,
        "pbf": big,
        "xml": xml,
        "mult": mult,
        "entities": len(ents) * mult,
        "changesets": n_changesets,
        "bounds": list(PBF_BOUNDS),
        "sample": sample_cells(ents, seed),
    }
    with open(os.path.join(d, "expect.json.tmp"), "w") as f:
        json.dump(expect, f)
    os.replace(os.path.join(d, "expect.json.tmp"), os.path.join(d, "expect.json"))


def _gen_tables(d: str, seed: int, sf: float) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    n = {t: max(1, int(round(k * sf))) for t, k in TABLE_ROWS.items()}
    n["documents"] = 5_000 if sf >= 0.1 else 500
    n["embeddings"] = 2_000 if sf >= 0.1 else 500

    def pick(options: list[str], size: int) -> np.ndarray:
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), size)]

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return rng.integers(int(lo * 100), int(hi * 100) + 1, size) / 100.0

    def days(start: str, end: str, size: int) -> np.ndarray:
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        off = rng.integers(0, int((hi - lo).astype(int)) + 1, size)
        return (lo + off).astype("datetime64[us]")

    def write(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(pa.table(cols, schema=schema), os.path.join(d, f"{name}.parquet"))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write(
        "region",
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    write(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    nc = n["customer"]
    write(
        "customer",
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, nc),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        },
        pa.schema(
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
             ("c_acctbal", f64), ("c_mktsegment", s)]
        ),
    )
    ns = n["supplier"]
    write(
        "supplier",
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, ns),
        },
        pa.schema(
            [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]
        ),
    )
    npart = n["part"]
    adjs = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    nouns = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    write(
        "part",
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": pick([f"{a} {b}" for a in adjs for b in nouns], npart),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": pick(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": rng.integers(1, 51, npart, dtype=np.int32),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        },
        pa.schema(
            [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
             ("p_size", i32), ("p_retailprice", f64)]
        ),
    )
    no = n["orders"]
    write(
        "orders",
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": money(1000.0, 500000.0, no),
            "o_orderdate": days("1995-01-01", "2001-08-01", no),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        },
        pa.schema(
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
             ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]
        ),
    )
    nl = n["lineitem"]
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": days("1995-01-02", "2001-11-04", nl),
        },
        pa.schema(
            [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
             ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
             ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
             ("l_linestatus", s), ("l_shipdate", ts)]
        ),
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 10**6  # thirty days of events from 2024-01-01
    offsets = np.sort(rng.choice(span_us, ne, replace=False))
    write(
        "events",
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + offsets,
            "user_id": rng.integers(0, max(1, nc // 10), ne, dtype=np.int64),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        pa.schema(
            [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
             ("value", f64), ("props", s)]
        ),
    )
    nd = n["documents"]
    vocab = (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
    texts = [
        " ".join(np.asarray(vocab)[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        for _ in range(nd)
    ]
    # 5% of the documents become near-duplicates of any document, as in
    # the test data: a later overwrite can chain a copy or orphan one.
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    write(
        "documents",
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema(
            [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]
        ),
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(
        "embeddings",
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, nv, dtype=np.int32),
        },
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]),
    )
    open(os.path.join(d, "_done"), "w").close()


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    kind, out, *rest = sys.argv[1:]
    if kind == "osm":
        _gen_osm(out, *map(int, rest))
    elif kind == "tables":
        _gen_tables(out, int(rest[0]), float(rest[1]))
    else:
        raise SystemExit(f"unknown input kind: {kind}")
