"""Gate-composition invariants over driver_verified.json (r11 verdict #7).

The per-round driver-verified sets and gate-priority lists moved from
~340 lines of frozenset/tuple literals in registry.py into
driver_verified.json.  These tests make the rotation auditable:

1. the resulting all_queries() order is snapshot-pinned (an accidental
   ordering change — the driver gates exactly the FIRST 50 — fails
   loudly and the snapshot diff shows exactly what moved);
2. the gate composition is re-derivable from the JSON: the current
   priority list leads with every stalest-round green, covers every
   not-yet-verified registered query, and contains no duplicates or
   unknown names;
3. the JSON round-trips against the driver's own CORRECTNESS_rN.json
   artifacts (rounds >= 5 exact; rounds 1-4 are curated history —
   streaming rows-only checks and early hash-rule drift predate the
   triple-green convention).
"""

from __future__ import annotations

import glob
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SNAPSHOT = Path(__file__).with_name("snapshots") / "gate_order.json"


def _dv() -> dict:
    return json.loads(
        (REPO / "osm2orc_spark" / "driver_verified.json").read_text()
    )


def test_order_snapshot():
    """Full all_queries() ordering equals the committed snapshot.
    Regenerate intentionally with:
    python -c "import json; from osm2orc_spark.registry import all_queries;
    json.dump(list(all_queries()), open('tests/snapshots/gate_order.json','w'), indent=0)"
    """
    from osm2orc_spark.registry import all_queries

    assert list(all_queries()) == json.loads(SNAPSHOT.read_text())


def test_order_snapshot_independent_of_import_order():
    """Gate ties rank by the fixed query-module list, not by whichever
    query module a caller imported first: a fresh interpreter that
    imports osm_corpus and sequences before the registry still yields
    the snapshot order."""
    code = (
        "import json, osm2orc_spark.queries.osm_corpus, "
        "osm2orc_spark.queries.sequences\n"
        "from osm2orc_spark.registry import all_queries\n"
        "print(json.dumps(list(all_queries())))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout
    assert json.loads(out.splitlines()[-1]) == json.loads(SNAPSHOT.read_text())


def test_gate_priority_well_formed():
    from osm2orc_spark.registry import GATE_PRIORITY, all_queries

    reg = set(all_queries())
    assert len(GATE_PRIORITY) == 50  # the driver checks exactly 50
    assert len(set(GATE_PRIORITY)) == len(GATE_PRIORITY)
    unknown = set(GATE_PRIORITY) - reg
    assert not unknown, f"priority names not in registry: {sorted(unknown)}"


def test_gate_leads_with_stalest_greens():
    """Rotation invariant (r11 verdict #3): every query whose last
    triple-green is in the stalest surviving round must occupy the head
    of the gate, so after this round's gate no query's latest green is
    older than (stalest + 1)."""
    from osm2orc_spark.registry import (
        DRIVER_VERIFIED_BY_ROUND,
        GATE_PRIORITY,
        all_queries,
    )

    reg = set(all_queries())
    last = {}
    for rnd in sorted(DRIVER_VERIFIED_BY_ROUND):
        for n in DRIVER_VERIFIED_BY_ROUND[rnd]:
            if n in reg:
                last[n] = rnd
    stalest = min(last.values())
    stale_set = {n for n, r in last.items() if r == stalest}
    assert stale_set == set(GATE_PRIORITY[: len(stale_set)]), (
        f"gate must lead with the {len(stale_set)} round-{stalest}-stale greens"
    )
    # every registered-but-never-verified query must be inside the gate
    # (the first 50 of all_queries): priority tier 0 or new-query tier 1
    order = list(all_queries())
    gated = set(order[:50])
    unverified = reg - set(last)
    assert unverified <= gated, f"ungated new queries: {sorted(unverified - gated)}"


@pytest.mark.parametrize(
    "path",
    sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))),
    ids=lambda p: Path(p).stem,
)
def test_verified_sets_match_driver_artifacts(path):
    rnd = int(re.search(r"r(\d+)", Path(path).name).group(1))
    if rnd < 5:
        pytest.skip("rounds 1-4 are curated history (pre-triple-green rules)")
    rows = json.loads(Path(path).read_text())
    greens = {
        n
        for n, r in rows.items()
        if r.get("rows_match")
        and r.get("schema_match")
        and r.get("hash_match")
        and not r.get("err")
    }
    verified = _dv()["verified"]
    if str(rnd) not in verified and rnd > max(int(r) for r in verified):
        # Post-gate window (r12 verdict "What's wrong"): the driver
        # writes CORRECTNESS_rN.json AFTER the builder's last commit, so
        # the newest artifact legitimately has no verified entry until
        # the next round folds it in.  Only rounds <= the max recorded
        # round must round-trip exactly.
        pytest.skip(
            f"round {rnd} newer than driver_verified.json's max recorded "
            "round (post-gate window; folded in next round)"
        )
    recorded = set(verified.get(str(rnd), []))
    assert greens == recorded, (
        f"round {rnd}: JSON drifted from driver artifact "
        f"(+{sorted(greens - recorded)} -{sorted(recorded - greens)})"
    )
