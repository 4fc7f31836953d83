"""Strategy-switch wiring (r8 verdict #1): the registered queries pick
their measured scale path automatically, and the switched output is
identical to the unbounded/banded spelling they replace.

The *algorithms* are proven elsewhere (test_chunked_windows.py,
test_dedup_invariants.py's refined-identity, the XL sweeps); what THIS
file proves is the wiring — probe correctness, memoization, and that
forcing each switch (threshold -> 0 via monkeypatch) end-to-end through
the REGISTERED entry point reproduces the default-path result exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2orc_spark.operators import switches


@pytest.fixture(autouse=True)
def _clear_probe_cache():
    # Thresholds are monkeypatched per-test; probe VALUES stay valid
    # (they're data-derived), but clear anyway so tests are order-free.
    switches.probe_cache_clear()
    yield
    switches.probe_cache_clear()


def test_table_rows_probe_memoized(spark, tmp_path):
    import os

    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id int")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    assert switches.table_rows(spark, str(tmp_path), "documents") == 10
    # memoized under the ABSOLUTE dir path: a second call answers from
    # the cache (poke the cache to prove the path is hit)
    key = (os.path.abspath(str(tmp_path)), "table_rows:documents")
    assert switches._PROBE_CACHE[key] == 10
    switches._PROBE_CACHE[key] = 99
    assert switches.table_rows(spark, str(tmp_path), "documents") == 99


def test_table_rows_probe(spark, sf_smoke):
    from osm2orc_spark.tables import load

    n = load(spark, sf_smoke, "documents").count()
    assert switches.table_rows(spark, sf_smoke, "documents") == n


WINDOW_FAMILY = list(switches._WINDOW_FAMILY_SWITCHED)


@pytest.mark.parametrize("name", WINDOW_FAMILY)
def test_window_family_switch_identity(spark, sf_correctness, name, monkeypatch):
    """Registered query with the switch FORCED (threshold 0) equals the
    registered query on its default (unbounded-window) path."""
    from osm2orc_spark.registry import all_queries

    fn = all_queries()[name].fn
    base = fn(spark, sf_correctness)  # default: probe << threshold
    monkeypatch.setattr(switches, "HOT_KEY_ROWS", 0)
    switched = fn(spark, sf_correctness)
    n_base, n_sw = base.count(), switched.count()
    assert n_base > 0
    assert n_base == n_sw
    assert base.exceptAll(switched.select(*base.columns)).count() == 0
    assert switched.select(*base.columns).exceptAll(base).count() == 0


def test_simhash_switch_identity(spark, sf_correctness, monkeypatch):
    import os

    from osm2orc_spark.registry import all_queries

    fn = all_queries()["simhash_near_dup"].fn
    base = fn(spark, sf_correctness)
    n_base = base.count()
    # The probe ran eagerly inside the dispatcher; at the gate SF the
    # flat coincidence mass must sit far below the threshold, i.e. the
    # banded plan was chosen (the driver's oracle hashes depend on it
    # staying byte-identical — verified separately by the plan suite).
    flat = switches._PROBE_CACHE[
        (os.path.abspath(sf_correctness), "simhash_flat_pairs")
    ]
    assert 0 <= flat <= switches.SIMHASH_FLAT_PAIRS_MAX
    # Force the coincidence-mass decision (applied AFTER the memoized
    # probe, so no cache clear is needed): any flat mass > -1 refines.
    monkeypatch.setattr(switches, "SIMHASH_FLAT_PAIRS_MAX", -1)
    switched = fn(spark, sf_correctness)
    assert n_base == switched.count()
    assert base.exceptAll(switched.select(*base.columns)).count() == 0
    assert switched.select(*base.columns).exceptAll(base).count() == 0


def test_lsh_switch_identity(spark, sf_correctness, monkeypatch):
    from osm2orc_spark.operators import similarity
    from osm2orc_spark.registry import all_queries

    fn = all_queries()["embedding_near_dup_lsh"].fn
    base = fn(spark, sf_correctness)
    base_rows = base.collect()
    assert len(base_rows) > 0
    # Force the refinement branch: every nonempty bucket is "hot".
    monkeypatch.setattr(similarity, "LSH_BUCKET_CAP", 0)
    switched = fn(spark, sf_correctness)
    sw_rows = switched.collect()
    # Refinement with cap 0 narrows bands to 16 bits — output must be a
    # SUBSET (band-LSH recall shrinks, never grows) and every surviving
    # pair keeps its exact cosine.
    base_map = {(r.vec_a, r.vec_b): r.cosine for r in base_rows}
    assert len(sw_rows) <= len(base_rows)
    for r in sw_rows:
        assert (r.vec_a, r.vec_b) in base_map
        assert base_map[(r.vec_a, r.vec_b)] == r.cosine


def test_lsh_auto_path_below_cap_identical(spark, sf_correctness, monkeypatch):
    """At the gate SF no bucket exceeds the DEFAULT cap, so driving the
    registered query into its refined branch (memoized max-bucket probe
    seeded above the cap) reproduces the unrefined output exactly."""
    import os

    from osm2orc_spark.operators import similarity
    from osm2orc_spark.registry import all_queries

    fn = all_queries()["embedding_near_dup_lsh"].fn
    base = fn(spark, sf_correctness)
    key = (os.path.abspath(sf_correctness), "lsh_max_bucket")
    assert switches._PROBE_CACHE[key] <= similarity.LSH_BUCKET_CAP
    monkeypatch.setitem(switches._PROBE_CACHE, key, similarity.LSH_BUCKET_CAP + 1)
    ref = fn(spark, sf_correctness)
    # the refined branch really planned: its level-2 band key is present
    assert "cv2" in ref._jdf.queryExecution().executedPlan().toString()
    assert "cv2" not in base._jdf.queryExecution().executedPlan().toString()
    n_base = base.count()
    assert n_base > 0
    assert n_base == ref.count()
    assert base.exceptAll(ref.select(*base.columns)).count() == 0


class TestAnnIndexSurface:
    """r8 verdict #4: the fit-once/probe-many split must equal the fused
    registered queries exactly, and the index must survive its
    small-table round trip."""

    def test_ivf_split_equals_fused(self, spark, sf_correctness):
        from osm2orc_spark.operators.ann_index import (
            ann_build_index,
            ann_ivf_probe_prebuilt,
        )
        from osm2orc_spark.registry import all_queries

        fused = all_queries()["ann_ivf_kmeans"].fn(spark, sf_correctness)
        idx = ann_build_index(spark, sf_correctness, kind="ivf")
        split = ann_ivf_probe_prebuilt(spark, sf_correctness, idx)
        assert fused.collect() == split.select(*fused.columns).collect()

    def test_ivfpq_split_equals_fused(self, spark, sf_correctness):
        from osm2orc_spark.operators.ann_index import (
            ann_build_index,
            ann_ivfpq_probe_prebuilt,
        )
        from osm2orc_spark.registry import all_queries

        fused = all_queries()["ann_ivfpq_probe"].fn(spark, sf_correctness)
        idx = ann_build_index(spark, sf_correctness, kind="ivfpq")
        split = ann_ivfpq_probe_prebuilt(spark, sf_correctness, idx)
        assert fused.collect() == split.select(*fused.columns).collect()

    def test_registered_prebuilt_equals_fused(self, spark, sf_correctness):
        """r9 verdict #3: the REGISTERED prebuilt probes (memoized
        cached_index path, including the table round-trip it performs)
        must equal the fused queries — both on the cold build call and
        on the memoized probe-only call the bench steady state takes."""
        from osm2orc_spark.operators.ann_index import index_cache_clear
        from osm2orc_spark.registry import all_queries

        qs = all_queries()
        index_cache_clear()
        for fused_name, pre_name in (
            ("ann_ivf_kmeans", "ann_ivf_probe_prebuilt"),
            ("ann_ivfpq_probe", "ann_ivfpq_probe_prebuilt"),
        ):
            fused = qs[fused_name].fn(spark, sf_correctness).collect()
            cold = qs[pre_name].fn(spark, sf_correctness)
            assert fused == cold.collect()
            warm = qs[pre_name].fn(spark, sf_correctness)  # memoized index
            assert fused == warm.collect()

    def test_index_table_roundtrip(self, spark, sf_correctness, tmp_path):
        from osm2orc_spark.operators.ann_index import (
            ann_build_index,
            index_from_df,
            index_to_df,
        )

        idx = ann_build_index(spark, sf_correctness, kind="ivfpq")
        df = index_to_df(spark, idx)
        # the index IS a small table: k + m*k rows
        from osm2orc_spark.operators.similarity import N_CENTROIDS, PQ_K, PQ_M

        assert df.count() == N_CENTROIDS + PQ_M * PQ_K
        out = str(tmp_path / "ann_index.parquet")
        df.write.parquet(out)
        back = index_from_df(spark.read.parquet(out))
        assert back == idx


class TestKnnJoin:
    """r10 verdict #7: the corpus-wide kNN self-join over the prebuilt
    IVF index.  An independent driver-side numpy brute-force twin
    (exact scoring of ALL candidates in each vector's probed cells,
    global (-cos, nb_id) top-k) pins the distributed cogroup +
    partial-top-k + window-merge path, including tie handling on the
    exact-duplicate vectors the corpus contains by design."""

    @staticmethod
    def _bruteforce_twin(spark, sf_dir, index, k_neighbors, nprobe):
        import numpy as np

        from osm2orc_spark.operators.similarity import QUANT
        from osm2orc_spark.tables import load

        rows = (
            load(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .collect()
        )
        vid = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        X = np.floor(
            np.array([r["embedding"] for r in rows], dtype=np.float64) * QUANT
        ).astype(np.int64)
        C = np.array([list(c) for c in index.centroids], dtype=np.int64)
        n2 = (X * X).sum(axis=1)
        d = n2[:, None] - 2 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        order = np.argsort(d, axis=1, kind="stable")
        cid, probes = order[:, 0], order[:, :nprobe]
        out = []
        for i in range(len(vid)):
            if n2[i] == 0:
                continue
            cand = np.flatnonzero(
                np.isin(cid, probes[i]) & (vid != vid[i]) & (n2 > 0)
            )
            cos = (X[cand] @ X[i]).astype(np.float64) / (
                np.sqrt(n2[cand].astype(np.float64)) * np.sqrt(float(n2[i]))
            )
            top = np.lexsort((vid[cand], -cos))[:k_neighbors]
            out += [
                (int(vid[i]), rn + 1, int(vid[cand[j]]), float(cos[j]))
                for rn, j in enumerate(top)
            ]
        return sorted(out)

    def test_knn_join_matches_bruteforce(self, spark, sf_correctness):
        from osm2orc_spark.operators.ann_index import (
            KNN_K,
            KNN_NPROBE,
            ann_knn_join,
            cached_index,
        )

        idx = cached_index(spark, sf_correctness, "ivf")
        got = sorted(
            (r["vec_id"], r["rn"], r["nb_id"], r["cosine"])
            for r in ann_knn_join(spark, sf_correctness, idx).collect()
        )
        assert got == self._bruteforce_twin(
            spark, sf_correctness, idx, KNN_K, KNN_NPROBE
        )

    def test_knn_join_chunk_invariance(self, spark, sf_correctness):
        """The blocked-matmul chunk size is a memory knob, never a
        semantics knob: chunk_cells=1 (one probe row per block) must be
        collect-identical to the default."""
        from osm2orc_spark.operators.ann_index import ann_knn_join, cached_index

        idx = cached_index(spark, sf_correctness, "ivf")
        default = ann_knn_join(spark, sf_correctness, idx).collect()
        tiny = ann_knn_join(
            spark, sf_correctness, idx, chunk_cells=1
        ).collect()
        assert default == tiny

    def test_knn_scale_switch_identity(self, spark, sf_correctness, monkeypatch):
        """Forcing the registered k-scale switch at the gate SF must be
        collect-identical: n/256 floors to N_CENTROIDS there, so the
        forced path fits the same 8 cells through the k-parameterized
        builder and the output cannot move (the dedup_semantic_kmeans
        kscale pattern)."""
        from osm2orc_spark.operators import ann_index
        from osm2orc_spark.registry import all_queries

        fn = all_queries()["ann_knn_join_prebuilt"].fn
        base = fn(spark, sf_correctness).collect()
        assert len(base) > 0
        monkeypatch.setattr(ann_index, "KNN_SCALE_ROWS_MAX", -1)
        assert fn(spark, sf_correctness).collect() == base

    def test_knn_join_boundary_ties(self, spark, tmp_path):
        """Force the argpartition boundary-tie closure: 40 EXACT
        duplicates of one vector mean every duplicate's top-k boundary
        is a 39-way cosine tie — the O(nb) partition alone would pick
        arbitrary members; the exact re-selection must pick the lowest
        nb_ids, matching the brute-force twin."""
        import numpy as np

        from osm2orc_spark.operators.ann_index import AnnIndex, ann_knn_join
        from osm2orc_spark.operators.similarity import IVF_KM_ITERS, _lloyd_fit_ints

        rng_rows = []
        for i in range(40):  # exact duplicates
            rng_rows.append((i, "dup", [0.25] * 8))
        for i in range(40, 60):  # distinct fillers
            rng_rows.append((i, "x", [((i * 7 + j) % 11 - 5) / 10.0 for j in range(8)]))
        d = str(tmp_path / "ties")
        spark.createDataFrame(
            rng_rows, "vec_id long, label string, embedding array<float>"
        ).write.parquet(f"{d}/embeddings.parquet")
        cents = _lloyd_fit_ints(spark, d, 4, IVF_KM_ITERS)
        idx = AnnIndex(kind="ivf", centroids=tuple(tuple(c) for c in cents))
        got = sorted(
            (r["vec_id"], r["rn"], r["nb_id"], r["cosine"])
            for r in ann_knn_join(spark, d, idx, k_neighbors=3, nprobe=2).collect()
        )
        assert got == self._bruteforce_twin(spark, d, idx, 3, 2)
        # the duplicates' neighbor lists are the LOWEST-id co-duplicates
        by_vec = {}
        for v, rn, nb, _ in got:
            by_vec.setdefault(v, []).append(nb)
        assert by_vec[5] == [0, 1, 2]

    def test_knn_join_more_cells(self, spark, sf_correctness):
        """The 100 TB regime fits MORE coarse cells (k_cents ~ n/256) —
        the twin must still agree when the index has finer cells and a
        wider probe list."""
        from osm2orc_spark.operators.ann_index import AnnIndex, ann_knn_join
        from osm2orc_spark.operators.similarity import IVF_KM_ITERS, _lloyd_fit_ints

        cents = _lloyd_fit_ints(spark, sf_correctness, 16, IVF_KM_ITERS)
        idx = AnnIndex(kind="ivf", centroids=tuple(tuple(c) for c in cents))
        got = sorted(
            (r["vec_id"], r["rn"], r["nb_id"], r["cosine"])
            for r in ann_knn_join(
                spark, sf_correctness, idx, k_neighbors=3, nprobe=4
            ).collect()
        )
        assert got == self._bruteforce_twin(spark, sf_correctness, idx, 3, 4)

    def test_knn_scaled_k_capped_at_fit_bound(
        self, spark, sf_correctness, monkeypatch
    ):
        """r11 advice (high): the uncapped scaled rule k = n//256
        hard-crashed above 256*MAX_FIT_ROWS (~16.7M) vectors —
        effective_fit_m raises when k_min exceeds the fit-sample cap —
        precisely the at-scale regime the switch exists for.  The
        registered dispatch must cap k at MAX_FIT_ROWS // 4 (the
        dedup_semantic_kmeans precedent) and still build a plan."""
        from osm2orc_spark.operators import ann_index, switches
        from osm2orc_spark.operators.similarity import MAX_FIT_ROWS
        from osm2orc_spark.registry import all_queries

        seen = {}
        real = ann_index.cached_index

        def spy(spark_, sf_dir_, kind_, k_cents=None):
            seen["k"] = k_cents
            return real(spark_, sf_dir_, kind_, k_cents)

        monkeypatch.setattr(ann_index, "cached_index", spy)
        monkeypatch.setattr(
            switches, "table_rows", lambda *_a, **_k: 256 * MAX_FIT_ROWS + 1
        )
        df = all_queries()["ann_knn_join_prebuilt"].fn(spark, sf_correctness)
        assert df.columns == ["vec_id", "rn", "nb_id", "cosine"]
        assert seen["k"] == MAX_FIT_ROWS // 4

    def test_hier_assignment_identity(self, spark, sf_correctness, monkeypatch):
        """r11 verdict #1: the hierarchical (two-level, triangle-
        inequality-pruned) assignment scan must be BIT-identical to the
        flat scan — forcing it at the gate SF (k=8 cells, 3 super-cells)
        cannot move a single row."""
        from osm2orc_spark.operators import ann_index

        idx = ann_index.cached_index(spark, sf_correctness, "ivf")
        flat = ann_index.ann_knn_join(spark, sf_correctness, idx).collect()
        assert len(flat) > 0
        monkeypatch.setattr(ann_index, "KNN_HIER_CELLS_MIN", 0)
        monkeypatch.setattr(ann_index, "KNN_HIER_PRUNE_CELLS_MIN", 0)
        assert ann_index.ann_knn_join(spark, sf_correctness, idx).collect() == flat

    def test_hier_assignment_identity_many_cells(
        self, spark, sf_correctness, monkeypatch
    ):
        """The regime the hierarchical scan exists for: many cells, wide
        probes.  64 cells over 500 vectors, nprobe=4 — flat, forced-hier,
        and the independent brute-force twin must all agree exactly."""
        from osm2orc_spark.operators import ann_index
        from osm2orc_spark.operators.ann_index import AnnIndex, ann_knn_join
        from osm2orc_spark.operators.similarity import IVF_KM_ITERS, _lloyd_fit_ints

        cents = _lloyd_fit_ints(spark, sf_correctness, 64, IVF_KM_ITERS)
        idx = AnnIndex(kind="ivf", centroids=tuple(tuple(c) for c in cents))

        def run():
            return sorted(
                (r["vec_id"], r["rn"], r["nb_id"], r["cosine"])
                for r in ann_knn_join(
                    spark, sf_correctness, idx, k_neighbors=3, nprobe=4
                ).collect()
            )

        flat = run()
        monkeypatch.setattr(ann_index, "KNN_HIER_CELLS_MIN", 0)
        monkeypatch.setattr(ann_index, "KNN_HIER_PRUNE_CELLS_MIN", 0)
        assert run() == flat
        assert flat == self._bruteforce_twin(spark, sf_correctness, idx, 3, 4)

    def test_hier_assignment_ties_under_pruning(self, spark, tmp_path, monkeypatch):
        """Exact-duplicate vectors make every distance a tie candidate —
        the pruning bound is strict-> so tied cells must never be
        pruned; forced-hier output on the duplicate-heavy corpus must
        equal the brute-force twin bit-for-bit."""
        from osm2orc_spark.operators import ann_index
        from osm2orc_spark.operators.ann_index import AnnIndex, ann_knn_join
        from osm2orc_spark.operators.similarity import IVF_KM_ITERS, _lloyd_fit_ints

        rng_rows = []
        for i in range(40):  # exact duplicates
            rng_rows.append((i, "dup", [0.25] * 8))
        for i in range(40, 120):  # distinct fillers
            rng_rows.append(
                (i, "x", [((i * 7 + j) % 11 - 5) / 10.0 for j in range(8)])
            )
        d = str(tmp_path / "hier_ties")
        spark.createDataFrame(
            rng_rows, "vec_id long, label string, embedding array<float>"
        ).write.parquet(f"{d}/embeddings.parquet")
        cents = _lloyd_fit_ints(spark, d, 16, IVF_KM_ITERS)
        idx = AnnIndex(kind="ivf", centroids=tuple(tuple(c) for c in cents))
        monkeypatch.setattr(ann_index, "KNN_HIER_CELLS_MIN", 0)
        monkeypatch.setattr(ann_index, "KNN_HIER_PRUNE_CELLS_MIN", 0)
        got = sorted(
            (r["vec_id"], r["rn"], r["nb_id"], r["cosine"])
            for r in ann_knn_join(spark, d, idx, k_neighbors=3, nprobe=2).collect()
        )
        assert got == self._bruteforce_twin(spark, d, idx, 3, 2)

    def test_semdedup_kscale_switch_identity(
        self, spark, sf_correctness, monkeypatch
    ):
        """curation_semdedup composes _knn_join_registered, so it
        inherits the k-scale switch — forcing it at the gate SF must be
        collect-identical (n/256 floors to N_CENTROIDS there)."""
        from osm2orc_spark.operators import ann_index
        from osm2orc_spark.registry import all_queries

        fn = all_queries()["curation_semdedup"].fn
        base = fn(spark, sf_correctness).collect()
        assert len(base) > 0
        monkeypatch.setattr(ann_index, "KNN_SCALE_ROWS_MAX", -1)
        assert fn(spark, sf_correctness).collect() == base

    def test_semdedup_survivors_mutually_subthreshold(
        self, spark, sf_correctness
    ):
        """The r11 verdict #4 done-criterion: survivors must be mutually
        sub-threshold across every observed kNN edge — for any
        symmetrized edge (a, b) with cosine >= SEMDEDUP_TAU, at most one
        endpoint is kept (the higher id is always dropped).  Also pins
        non-triviality (both kept and dropped rows exist) and the
        dup_of witness (dropped rows name a lower-id above-threshold
        neighbor; kept rows have none)."""
        from osm2orc_spark.operators.curation import SEMDEDUP_TAU
        from osm2orc_spark.registry import all_queries

        qs = all_queries()
        sd = {
            r["vec_id"]: r
            for r in qs["curation_semdedup"].fn(spark, sf_correctness).collect()
        }
        knn = qs["ann_knn_join_prebuilt"].fn(spark, sf_correctness).collect()
        edges = {
            (min(r["vec_id"], r["nb_id"]), max(r["vec_id"], r["nb_id"]))
            for r in knn
            if r["cosine"] >= SEMDEDUP_TAU
        }
        assert edges, "threshold too high: no near-dup edges at gate SF"
        kept = {v for v, r in sd.items() if r["kept"]}
        assert kept and (set(sd) - kept), "need both kept and dropped rows"
        for a, b in edges:
            assert b not in kept, f"edge ({a},{b}) above tau but {b} kept"
        for v, r in sd.items():
            if r["kept"]:
                assert r["dup_of"] is None
            else:
                assert r["dup_of"] is not None and r["dup_of"] < v
                assert (r["dup_of"], v) in edges

    @pytest.mark.parametrize(
        "name",
        [
            "curation_semdedup_docs",
            "ann_knn_recall",
            "ann_knn_join_tuned",
            "ann_knn_recall_tuned",
            "curation_semdedup_tuned",
        ],
    )
    def test_composed_kscale_switch_identity(
        self, spark, sf_correctness, name, monkeypatch
    ):
        """The r12 composed consumers of _knn_join_registered inherit
        its k-scale switch — forcing it at the gate SF must be
        collect-identical (n/256 floors to N_CENTROIDS there)."""
        from osm2orc_spark.operators import ann_index
        from osm2orc_spark.registry import all_queries

        fn = all_queries()[name].fn
        base = fn(spark, sf_correctness).collect()
        assert len(base) > 0
        monkeypatch.setattr(ann_index, "KNN_SCALE_ROWS_MAX", -1)
        assert fn(spark, sf_correctness).collect() == base

    def test_hier_visit_probe_separates_regimes(self):
        """The visit-fraction probe must measure LOW on clusterable
        centroid geometry (well-separated tight clusters — pruning
        fires) and HIGH on distance-concentrated geometry (uniform-ish
        high-dim — every cover-radius bound vacuous), because that
        measurement IS the routing decision."""
        from osm2orc_spark.operators.ann_index import (
            _hier_groups,
            _hier_visit_frac,
        )

        # 64 centroids in 8 tight clusters, cluster centers 10^6 apart,
        # in-cluster spread ~10^2: groups align with clusters, radii
        # tiny vs inter-cluster distances -> one group visit suffices
        clustered = []
        for c in range(8):
            base = [(c * 1_000_000 if d == c else 0) for d in range(8)]
            for i in range(8):
                clustered.append([v + ((c * 31 + i * 7 + d) % 199) for d, v in enumerate(base)])
        frac_c = _hier_visit_frac(clustered, _hier_groups(clustered), 2)
        # 64 deterministic scattered points in 64-dim (md5-derived, no
        # lattice structure): distance concentration makes the cover
        # radii comparable to every gap, so nothing prunes
        import hashlib

        def h(i, d):
            v = int.from_bytes(
                hashlib.md5(f"{i}:{d}".encode()).digest()[:4], "big"
            )
            return v % 2_000_001 - 1_000_000

        scattered = [[h(i, d) for d in range(64)] for i in range(64)]
        frac_s = _hier_visit_frac(scattered, _hier_groups(scattered), 2)
        assert frac_c < 0.5, f"clusterable geometry should prune, got {frac_c}"
        assert frac_s > 0.5, f"concentrated geometry can't prune, got {frac_s}"

    def test_pick_hier_routes_by_measurement(self, monkeypatch):
        from osm2orc_spark.operators import ann_index

        clustered = []
        for c in range(8):
            base = [(c * 1_000_000 if d == c else 0) for d in range(8)]
            for i in range(8):
                clustered.append([v + ((c * 31 + i * 7 + d) % 199) for d, v in enumerate(base)])
        # below the prune-band floor: never hier, regardless of geometry
        assert ann_index._pick_hier(clustered, 2) is None
        # inside the probe band (PRUNE_CELLS_MIN < k <= CELLS_MIN): the
        # measured visit fraction decides
        monkeypatch.setattr(ann_index, "KNN_HIER_PRUNE_CELLS_MIN", 0)
        assert ann_index._pick_hier(clustered, 2) is not None
        import hashlib

        def h(i, d):
            v = int.from_bytes(
                hashlib.md5(f"{i}:{d}".encode()).digest()[:4], "big"
            )
            return v % 2_000_001 - 1_000_000

        scattered = [[h(i, d) for d in range(64)] for i in range(64)]
        assert ann_index._pick_hier(scattered, 2) is None  # probe rejects
        # above CELLS_MIN: unconditional, probe skipped (cache constants
        # win even at full visitation — the measured salted-twin result)
        monkeypatch.setattr(ann_index, "KNN_HIER_CELLS_MIN", 0)
        assert ann_index._pick_hier(scattered, 2) is not None

    def test_cached_index_rejects_nonpositive_k(self, spark, sf_correctness):
        """r11 advice: an explicit k_cents=0 used to alias the None cache
        entry (`k_cents or 0`) while taking the scaled-fit branch."""
        from osm2orc_spark.operators.ann_index import cached_index

        with pytest.raises(ValueError, match="k_cents"):
            cached_index(spark, sf_correctness, "ivf", 0)

    def test_cached_index_rejects_k_cents_for_non_ivf(
        self, spark, sf_correctness
    ):
        """r12 advice: the scaled branch fits coarse centroids only, so
        kind='ivfpq' with an explicit k_cents would build a books=None
        index labeled ivfpq — inconsistent if a PQ probe consumed it."""
        from osm2orc_spark.operators.ann_index import cached_index

        with pytest.raises(ValueError, match="ivf"):
            cached_index(spark, sf_correctness, "ivfpq", 8)


class TestKnnTuned:
    """r12 verdict #1: the recall-routed kNN join.  The route's claims
    are each pinned: (a) the tuned join's pair-level eval recall meets
    the 80% target; (b) it dominates the fixed-nprobe default; (c) the
    chosen fan-out is MINIMAL (one probe less misses the target); and
    (d) the routing's exactness argument — predicted recall from the
    cell-rank curve EQUALS measured recall of the actual join at that
    fan-out (the monotone survive-the-merge theorem, empirically)."""

    @staticmethod
    def _pair_recall(spark, sf_dir, knn_df):
        """Pair-level recall of a kNN result vs the exact ann_topk_batch
        ground truth re-ranked to KNN_K (the routed quantity)."""
        from pyspark.sql import Window

        from osm2orc_spark.operators.ann_index import KNN_K
        from osm2orc_spark.operators.similarity import ann_topk_batch

        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
        exact = (
            ann_topk_batch(spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= KNN_K)
            .select("q_id", "vec_id")
        )
        pairs = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
        got = {
            (r["vec_id"], r["nb_id"])
            for r in knn_df.select("vec_id", "nb_id").collect()
        }
        hits = sum(1 for p in pairs if p in got)
        return hits, len(pairs)

    def test_tuned_meets_target_and_dominates_default(
        self, spark, sf_correctness
    ):
        from osm2orc_spark.operators.ann_index import (
            KNN_RECALL_TARGET_PCT,
            _knn_join_tuned,
            ann_knn_join,
            cached_index,
        )

        idx = cached_index(spark, sf_correctness, "ivf")
        h_t, n = self._pair_recall(
            spark, sf_correctness, _knn_join_tuned(spark, sf_correctness)
        )
        h_d, n_d = self._pair_recall(
            spark, sf_correctness, ann_knn_join(spark, sf_correctness, idx)
        )
        assert n == n_d and n > 0
        assert 100 * h_t >= KNN_RECALL_TARGET_PCT * n
        assert h_t >= h_d

    def test_tuned_nprobe_minimal_and_curve_exact(self, spark, sf_correctness):
        from osm2orc_spark.operators.ann_index import (
            KNN_NPROBE,
            KNN_RECALL_TARGET_PCT,
            _tuned_nprobe,
            ann_knn_join,
            cached_index,
        )

        idx = cached_index(spark, sf_correctness, "ivf")
        r_star = _tuned_nprobe(spark, sf_correctness, idx)
        assert r_star > KNN_NPROBE  # the gate fixture's known recall gap
        # (d) curve exactness at the chosen fan-out
        h, n = self._pair_recall(
            spark,
            sf_correctness,
            ann_knn_join(spark, sf_correctness, idx, nprobe=r_star),
        )
        assert 100 * h >= KNN_RECALL_TARGET_PCT * n
        # (c) minimality: one probe fewer misses the target
        h1, n1 = self._pair_recall(
            spark,
            sf_correctness,
            ann_knn_join(spark, sf_correctness, idx, nprobe=r_star - 1),
        )
        assert n1 == n
        assert 100 * h1 < KNN_RECALL_TARGET_PCT * n

    def test_semdedup_tuned_sees_superset_of_edges(self, spark, sf_correctness):
        """Candidate-set monotonicity: raising nprobe grows each vector's
        candidate pool, so its top-k cosines pointwise dominate and the
        per-vector count of above-threshold kNN edges is nondecreasing —
        the tuned semdedup therefore sees AT LEAST the default's edge
        volume and at the gate fixture (known recall gap) strictly more,
        i.e. it catches near-dups the default provably missed."""
        from osm2orc_spark.operators.curation import SEMDEDUP_TAU
        from osm2orc_spark.registry import all_queries

        qs = all_queries()

        def edge_count(name):
            from osm2orc_spark.operators.ann_index import (
                _knn_join_registered,
                _knn_join_tuned,
            )

            knn = (
                _knn_join_tuned(spark, sf_correctness)
                if name == "tuned"
                else _knn_join_registered(spark, sf_correctness)
            )
            return knn.filter(F.col("cosine") >= SEMDEDUP_TAU).count()

        e_def, e_tun = edge_count("default"), edge_count("tuned")
        assert e_tun > e_def, (e_def, e_tun)
        kept_def = (
            qs["curation_semdedup"].fn(spark, sf_correctness).filter("kept").count()
        )
        kept_tun = (
            qs["curation_semdedup_tuned"]
            .fn(spark, sf_correctness)
            .filter("kept")
            .count()
        )
        # more observed true edges -> the greedy rule can only drop more
        # at this fixture (deterministic data; the strict inequality is
        # the measured quality payoff of the recall route)
        assert kept_tun < kept_def, (kept_def, kept_tun)


@pytest.mark.parametrize("name", WINDOW_FAMILY)
def test_window_family_hybrid_identity(spark, sf_correctness, name, monkeypatch):
    """TRUE hybrid: pick a threshold that makes SOME keys hot and some
    cold (the median per-user count), so the split+union path is
    exercised with both branches nonempty — output must equal the
    unbounded-window default exactly."""
    from osm2orc_spark.registry import all_queries
    from osm2orc_spark.tables import load

    counts = sorted(
        r["n"]
        for r in load(spark, sf_correctness, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    med = counts[len(counts) // 2]
    assert counts[0] <= med < counts[-1], "need a genuinely mixed split"
    fn = all_queries()[name].fn
    base = fn(spark, sf_correctness)  # default threshold: pure window
    base_n = base.count()
    monkeypatch.setattr(switches, "HOT_KEY_ROWS", int(med))
    strategy, hot = switches.window_strategy(spark, sf_correctness)
    assert strategy == "hybrid" and 0 < len(hot) < len(counts)
    hybrid = fn(spark, sf_correctness)
    assert base_n == hybrid.count()
    assert base.exceptAll(hybrid.select(*base.columns)).count() == 0
    assert hybrid.select(*base.columns).exceptAll(base).count() == 0


@pytest.mark.parametrize("name", WINDOW_FAMILY)
def test_window_family_null_keys_not_dropped(spark, tmp_path, name, monkeypatch):
    """NULL partition keys must survive every strategy of the window
    dispatcher: plain ~isin is NULL for a NULL key (dropped from BOTH
    hybrid branches); the cold predicate routes them to the window
    branch, a hot NULL key is never listed (inexpressible in an isin
    split), and the all-chunked split keeps them on the window core."""
    from osm2orc_spark.registry import all_queries

    rows = []
    for uid, n in ((1, 8), (2, 2), (None, 5)):
        rows += [
            (uid, i * 60_000, 100 * (uid or 9) + i,
             "purchase" if i % 4 == 1 else "view", float(10 * i))
            for i in range(n)
        ]
    spark.createDataFrame(
        rows, "user_id int, ms long, event_id long, event_type string, value double"
    ).select(
        "user_id", F.timestamp_millis("ms").alias("ts"), "event_id",
        "event_type", "value", F.lit(None).cast("string").alias("props"),
    ).write.parquet(str(tmp_path / "events.parquet"))
    d = str(tmp_path)
    fn = all_queries()[name].fn
    assert switches.window_strategy(spark, d)[0] == "window"
    exp = fn(spark, d)  # default threshold: the window path
    assert exp.count() > 0
    if "user_id" in exp.columns:
        assert exp.filter(F.col("user_id").isNull()).count() > 0

    def assert_same(got):
        assert got.count() == exp.count()
        assert exp.exceptAll(got.select(*exp.columns)).count() == 0
        assert got.select(*exp.columns).exceptAll(exp).count() == 0

    monkeypatch.setattr(switches, "HOT_KEY_ROWS", 5)  # user 1 hot, NULL cold
    assert switches.window_strategy(spark, d) == ("hybrid", (1,))
    assert_same(fn(spark, d))
    # users 1 AND NULL over the bar: only user 1 is listed, NULL rows
    # stay on the window branch
    monkeypatch.setattr(switches, "HOT_KEY_ROWS", 2)
    assert switches.window_strategy(spark, d) == ("hybrid", (1,))
    assert_same(fn(spark, d))
    monkeypatch.setattr(switches, "HOT_KEY_MAX_LIST", 0)
    switches.probe_cache_clear()
    assert switches.window_strategy(spark, d)[0] == "chunked"
    assert_same(fn(spark, d))


def test_vectorized_ann_scan_zero_norm_null(spark, tmp_path):
    """The Arrow ANN kernel must emit NULL cosine for zero-norm vectors
    (try_divide semantics), not inf/nan."""
    import math

    from osm2orc_spark.operators.similarity import QUANT, _ann_scan_vectorized

    rows = [(i, i % 3, [float(i + j) / 10 for j in range(4)]) for i in range(1, 6)]
    rows.append((9, 0, [0.0, 0.0, 0.0, 0.0]))  # zero-norm vector
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    cents = [[0, 0, 0, 0], [1000000, 1000000, 1000000, 1000000]]
    qq = [math.floor(0.05 * QUANT)] * 4
    out = _ann_scan_vectorized(df, cents, qq, q_id=1, probe=[0, 1]).collect()
    by_id = {r.vec_id: r for r in out}
    assert 1 not in by_id  # query row excluded
    assert by_id[9].cosine is None  # zero norm -> NULL, like try_divide
    assert all(r.cosine is not None for r in out if r.vec_id != 9)


def test_ann_ivf_probe_vectorized_equals_expr(spark, sf_correctness):
    """The vectorized registered ann_ivf_probe must collect-identically
    match the r8 expression/aggregate reference form (cosine argmax,
    probe ranking, query scoring — bit-for-bit)."""
    from osm2orc_spark.operators.similarity import _ann_ivf_probe_expr
    from osm2orc_spark.registry import all_queries

    new = all_queries()["ann_ivf_probe"].fn(spark, sf_correctness).collect()
    ref = _ann_ivf_probe_expr(spark, sf_correctness).collect()
    assert len(new) > 0
    assert new == ref


def test_semantic_kmeans_kscale_switch(spark, sf_correctness, monkeypatch):
    """Forcing the k-scaled path at the gate SF resolves to the SAME k=8
    (n/256 < 8), so the kernel-assigned output must be identical to the
    registered literal-expression path — proving the switch wiring and
    the kernel's exact-assignment claim in one shot."""
    from osm2orc_spark.operators import similarity
    from osm2orc_spark.registry import all_queries

    fn = all_queries()["dedup_semantic_kmeans"].fn
    base = fn(spark, sf_correctness).collect()
    monkeypatch.setattr(similarity, "SEMDEDUP_KSCALE_MIN_VECTORS", 0)
    forced = fn(spark, sf_correctness).collect()
    assert len(base) > 0
    assert base == forced


def test_gemm_argmin_exact_vs_tensor():
    """The float64 GEMM distance expansion used above 64 centroids must
    reproduce the int64 tensor path's first-minimum argmin bit-for-bit
    (all operands are integers < 2^53, exactly representable)."""
    import numpy as np

    from osm2orc_spark.operators.similarity import _blocked_argmin

    rng = np.random.RandomState(7)
    X = rng.randint(-(2**21), 2**21, size=(1000, 64)).astype(np.int64)
    C = rng.randint(-(2**21), 2**21, size=(100, 64)).astype(np.int64)
    C[10] = C[11]  # force exact distance ties -> first-min tie-break
    got = _blocked_argmin(X, C)          # k=100 -> GEMM path
    exp = np.empty(len(X), dtype=np.int64)
    for s in range(0, len(X), 128):
        blk = X[s : s + 128]
        d = ((blk[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        exp[s : s + 128] = d.argmin(axis=1)
    assert (got == exp).all()


# --- burst-adaptive chunk width (r10: the peak-rate residual) -------------


def test_burst_chunk_ms_default_when_cold(spark, sf_smoke):
    """Gate-SF peaks sit far below the bar: the width must stay at the
    default (zero plan change for every driver-data run)."""
    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS

    assert (
        switches.burst_chunk_ms(spark, sf_smoke, DEFAULT_CHUNK_MS)
        == DEFAULT_CHUNK_MS
    )


def test_burst_chunk_ms_shrinks_on_burst(spark, tmp_path, monkeypatch):
    """A key with 12 rows inside one default chunk (bar 4) must shrink
    the width until the re-probed peak fits: 5-minute spacing means the
    first rescale (/4 -> 15 min) already bounds the peak at 3."""
    import datetime as dt

    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base + dt.timedelta(minutes=5 * i), i) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    monkeypatch.setattr(switches, "HOT_KEY_ROWS", 4)
    got = switches.burst_chunk_ms(spark, d, DEFAULT_CHUNK_MS)
    assert got == DEFAULT_CHUNK_MS // 4
    # and the re-probe at the chosen width confirms the bound
    assert switches.peak_chunk_rows(spark, d, got) <= 4


def test_burst_chunk_ms_same_ts_floor(spark, tmp_path, monkeypatch):
    """Same-timestamp ties cannot be split by ANY width (equal sort keys
    must share a chunk) — the ladder must stop at MIN_CHUNK_MS instead
    of looping."""
    import datetime as dt

    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, t, i) for i in range(10)], "user_id long, ts timestamp, event_id long"
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    monkeypatch.setattr(switches, "HOT_KEY_ROWS", 2)
    assert switches.burst_chunk_ms(spark, d, DEFAULT_CHUNK_MS) == switches.MIN_CHUNK_MS


# --------------------------------------------------------------------------
# r15 (VERDICT #2): repartition-before-fan-out gated on scan split count
# --------------------------------------------------------------------------
FANOUT_GATED = [
    "curation_dsir_select",
    "dedup_duplicate_spans",
    "dedup_spans_clean",
]

# r15 second wave: the remaining unconditional repartition-before-fan-out
# sites (the shared _shingle_arrays/_simhash_df helpers plus three
# standalone queries) routed through the same gate.  Values are pinned
# per query below; the REPARTITION_BY_NUM plan assertion lives at the
# helper level (test_fanout_gate_r15_helpers) because most of these
# queries persist the helper frame and the executed plan hides the
# cached subtree behind InMemoryTableScan.
FANOUT_GATED_R15 = [
    "dedup_boilerplate_chunks",
    "dedup_containment_pairs",
    "dedup_containment_ppjoin",
    "dedup_minhash_calibration",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_dfcap",
    "dedup_ngram_jaccard",
    "dedup_ppjoin",
    "dupgraph_triangle_stats",
    "simhash_signature",
    "text_ngram_vocab",
    "text_quality_classifier",
]


def test_fanout_gate_r15_helpers(spark, sf_correctness, monkeypatch):
    """The gated helpers repartition at the single-split gate SF (gate
    open) and add NO explicit repartition exchange when the gate is
    forced closed (the many-split regime)."""
    from osm2orc_spark.operators.dedup import _shingle_arrays, _simhash_df

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for helper in (_shingle_arrays, _simhash_df):
        assert "REPARTITION_BY_NUM" in plan_of(helper(spark, sf_correctness))
    monkeypatch.setattr(switches, "FANOUT_SPLIT_FACTOR", 0)
    for helper in (_shingle_arrays, _simhash_df):
        assert "REPARTITION_BY_NUM" not in plan_of(helper(spark, sf_correctness))


@pytest.mark.parametrize("name", FANOUT_GATED_R15)
def test_fanout_gate_r15_identity(spark, sf_correctness, name, monkeypatch):
    """Registered query with the gate FORCED CLOSED equals the default
    gate-open result (values, not just counts)."""
    from osm2orc_spark.registry import all_queries

    fn = all_queries()[name].fn
    base = sorted(tuple(r) for r in fn(spark, sf_correctness).collect())
    assert base
    spark.catalog.clearCache()
    monkeypatch.setattr(switches, "FANOUT_SPLIT_FACTOR", 0)
    forced = sorted(tuple(r) for r in fn(spark, sf_correctness).collect())
    spark.catalog.clearCache()
    assert base == forced


def test_scan_splits_probe(spark, sf_smoke):
    """The probe reports the planned scan's split count (driver-side
    metadata, memoized) — the gate-SF documents file is one split."""
    n = switches.scan_splits(spark, sf_smoke, "documents")
    assert n >= 1
    import os

    key = (os.path.abspath(sf_smoke), "scan_splits:documents")
    assert switches._PROBE_CACHE[key] == n


@pytest.mark.parametrize("name", FANOUT_GATED)
def test_fanout_repart_gate_identity(spark, sf_correctness, name, monkeypatch):
    """Registered query with the gate FORCED CLOSED (factor 0 — the
    many-split regime where the scan already fills the cores) equals the
    default gate-open result, and the closed plan carries NO explicit
    repartition exchange (the VERDICT #2 'no added Exchange at a
    multi-split input' criterion)."""
    from osm2orc_spark.registry import all_queries

    fn = all_queries()[name].fn
    base = fn(spark, sf_correctness)
    n_base = base.count()
    assert n_base > 0
    open_plan = (
        fn(spark, sf_correctness)._jdf.queryExecution().executedPlan().toString()
    )
    assert "REPARTITION_BY_NUM" in open_plan  # gate open at the gate SF
    monkeypatch.setattr(switches, "FANOUT_SPLIT_FACTOR", 0)
    gated = fn(spark, sf_correctness)
    closed_plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in closed_plan
    assert n_base == gated.count()
    assert base.exceptAll(gated.select(*base.columns)).count() == 0
    assert gated.select(*base.columns).exceptAll(base).count() == 0


def test_tokenize_persist_identity(spark, sf_correctness, monkeypatch):
    """text_tfidf_topk's corpus-scale persist cutover (r15, VERDICT r14
    #6): the default gate-SF plan carries NO cache (replicated tokenize,
    byte-identical to the r14 spelling — the driver's oracle hash rides
    it), the forced-ON plan reads the tf fan from an InMemoryTableScan,
    and both produce the same rows."""
    from osm2orc_spark.operators.text import text_tfidf_topk

    base = text_tfidf_topk(spark, sf_correctness)
    default_plan = (
        base._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" not in default_plan  # gate SF: replicate
    n_base = base.count()
    assert n_base > 0
    monkeypatch.setattr(switches, "TOKENIZE_PERSIST_MIN_DOCS", 0)
    forced = text_tfidf_topk(spark, sf_correctness)
    forced_plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in forced_plan
    try:
        assert n_base == forced.count()
        assert base.exceptAll(forced.select(*base.columns)).count() == 0
        assert forced.select(*base.columns).exceptAll(base).count() == 0
    finally:
        spark.catalog.clearCache()
