"""Scale-guard and checkpoint-mode behavior for the quadratic baselines
and the iterative connected-components operator."""

from __future__ import annotations

import pytest

from osm2orc_spark.operators import dedup
from osm2orc_spark.operators.dedup import dedup_components, dedup_ngram_jaccard
from osm2orc_spark.operators.guards import (
    QUADRATIC_GUARD_MAX_ROWS,
    QuadraticInputError,
    guard_quadratic,
)
from osm2orc_spark.operators.similarity import embedding_near_dup_pairs


def test_guard_trips_on_oversized_input(spark):
    big = spark.range(501)
    with pytest.raises(QuadraticInputError, match="use_lsh_instead"):
        guard_quadratic(big, "op_under_test", "use_lsh_instead", max_rows=500)


def test_guard_opt_in_allows_oversized_input(spark):
    big = spark.range(501)
    guard_quadratic(
        big, "op_under_test", "use_lsh_instead", max_rows=500, allow_quadratic=True
    )


def test_guard_passes_small_input(spark):
    guard_quadratic(spark.range(10), "op", "alt", max_rows=500)


def test_near_dup_pairs_guarded(spark, sf_correctness, monkeypatch):
    """With the threshold forced below the table size, the registered
    quadratic operators refuse to run without the explicit opt-in."""
    import osm2orc_spark.operators.guards as guards

    monkeypatch.setattr(guards, "QUADRATIC_GUARD_MAX_ROWS", 10)
    with pytest.raises(QuadraticInputError, match="embedding_near_dup_lsh"):
        embedding_near_dup_pairs(spark, sf_correctness)
    with pytest.raises(QuadraticInputError, match="dedup_minhash_lsh"):
        dedup_ngram_jaccard(spark, sf_correctness)
    # Opt-in still works (plan construction only — no action triggered).
    df = embedding_near_dup_pairs(spark, sf_correctness, allow_quadratic=True)
    assert set(df.columns) == {"vec_a", "vec_b", "cosine"}


def test_guard_threshold_admits_gate_scale_tables(spark):
    """The default threshold must not trip at the driver's largest gate
    SF (sf0.1: 5000 documents / 2000 embeddings)."""
    from osm2orc_spark.tables import load

    for table in ("documents", "embeddings"):
        n = load(spark, "/root/testdata/sf0.1", table).count()
        assert n <= QUADRATIC_GUARD_MAX_ROWS


def test_dedup_components_strategies_agree(
    spark, sf_correctness, tmp_path, monkeypatch
):
    """All three physical strategies — bounded driver union-find (the
    default under CC_COLLECT_MAX_EDGES), distributed local-checkpoint
    fixpoint, and distributed reliable-checkpoint fixpoint — converge to
    the identical min-label assignment.  CC_COLLECT_MAX_EDGES = -1 forces
    the distributed path UNCONDITIONALLY (r6 advice: with =0 and a fixture
    yielding zero LSH pairs, n_edges==0 satisfies 0 <= 0 and the test
    silently compares union-find to itself); the non-singleton assert
    below makes the comparison non-vacuous."""
    unionfind = sorted(
        map(tuple, dedup_components(spark, sf_correctness).collect())
    )
    # non-vacuous: the fixture must contain at least one near-dup pair
    # (some component label differs from its doc_id)
    assert any(doc != comp for doc, comp in unionfind)
    monkeypatch.setattr(dedup, "CC_COLLECT_MAX_EDGES", -1)
    distributed = sorted(
        map(tuple, dedup_components(spark, sf_correctness).collect())
    )
    assert distributed == unionfind
    assert spark.sparkContext.getCheckpointDir() is None
    with pytest.raises(ValueError, match="setCheckpointDir"):
        dedup_components(spark, sf_correctness, checkpoint="reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = sorted(
        map(
            tuple,
            dedup_components(
                spark, sf_correctness, checkpoint="reliable"
            ).collect(),
        )
    )
    assert reliable == unionfind
    with pytest.raises(ValueError, match="checkpoint must be"):
        dedup_components(spark, sf_correctness, checkpoint="bogus")
