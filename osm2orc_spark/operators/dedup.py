"""Deduplication operators over the ``documents`` table.

Four families, each a first-class ``queries()`` entry with a DuckDB oracle:

- exact (hash-groupBy)                      -> dedup_exact
- n-gram Jaccard (brute-force verify)       -> dedup_ngram_jaccard
- MinHash + LSH (band/bucket candidates)    -> dedup_minhash_lsh
- SimHash signatures                        -> simhash_signature

Cross-engine determinism: every hash is md5 over explicit UTF-8 strings
(identical hex in Spark and DuckDB); MinHash "permutations" are
min-over-md5(seed || shingle) so no engine-specific hash function is
involved; Jaccard is a ratio of BIGINTs (exact in IEEE double).

Scale notes (100 TB posture):
- dedup_exact shuffles once on the content hash — the canonical
  map-side-combine groupBy; skew-free because hashes are uniform.
- The brute-force Jaccard join is quadratic in documents *per shared
  shingle*; it is the correctness oracle. The scale path is
  dedup_minhash_lsh: candidate generation is a self-join on (band,
  band_value) buckets, which touches only near-duplicate groups. Hot
  buckets (boilerplate shingles) are the skew risk — AQE skew-join
  handles moderate cases; a doc-frequency cap on shingles is the
  documented escape hatch for pathological corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm2orc_spark.operators.cache import release_with, safe_unpersist
from osm2orc_spark.operators.guards import guard_quadratic
from osm2orc_spark.registry import register
from osm2orc_spark.tables import load

# ---------------------------------------------------------------------------
# Shared shingle helpers (word 3-shingles over whitespace tokens).
# ---------------------------------------------------------------------------
N_SHINGLE = 3
MINHASH_SEEDS = 12
LSH_BAND_ROWS = 3  # 4 bands x 3 rows
JACCARD_THRESHOLD = 0.8

# Universal-hash permutations for MinHash: mh_s = (a*v + b) mod P over the
# 32-bit shingle hash v (first 8 hex chars of md5). ONE md5 per shingle
# instead of one per (shingle, seed) — 12x less hashing, and the arithmetic
# is exact in BIGINT in both Spark and DuckDB (a < 2^30, v < 2^32 =>
# a*v + b < 2^63). P is the smallest prime > 2^32.
MINHASH_P = 4294967311
MINHASH_PERMS = [
    (387420489, 12190087),
    (595845933, 406080569),
    (76650871, 873912389),
    (142547559, 20871187),
    (933416491, 573654101),
    (658770419, 307744559),
    (353814783, 84918749),
    (481294441, 722091217),
    (269419387, 950019309),
    (827396429, 119205217),
    (547211619, 461069711),
    (194556247, 668345593),
]


def _norm_text():
    return F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DISTINCT word-3-shingle arrays: (doc_id, arr, n).

    This is the persisted base of the dedup family (r8): the exploded
    (doc_id, shingle) stream that candidate generation needs is a NARROW
    explode away (recomputed per consumer from the cache — no shuffle),
    while exact verification consumes the arrays directly: an in-task
    ``size(array_intersect(arr_a, arr_b))`` per candidate pair replaces
    fanning every pair across its shingle rows through two shuffle joins
    plus a groupBy(doc_a, doc_b) agg plus two sizes joins.  Exchange
    volume for the verify drops from fan-out scale (sum over pairs of
    |A| rows) to |cand| rows, and three exchanges disappear outright;
    measured 0.61x on dedup_ppjoin end-to-end at sf0.1 (bit-identical
    output).  Per-row memory is bounded by 2x the largest doc's shingle
    set — the same bytes the fan-out shape moved as rows, minus the
    per-row overhead.

    The documents file is small relative to the fan-out it feeds (each doc
    explodes to ~n_tokens shingle rows), so a single parquet split would
    serialize the whole pipeline on one core. Repartition by doc_id BEFORE
    exploding: tiny shuffle, full parallelism downstream. Gated on the
    scan's split count (r15, VERDICT #2 class): a many-split scan is
    already parallel and must not pay a full-text shuffle — an explicit-N
    repartition is an Exchange AQE can neither elide nor coalesce.
    """
    from osm2orc_spark.operators import switches

    docs = switches.fanout_repartition(
        spark, sf_dir, load(spark, sf_dir, "documents"), "doc_id"
    )
    # Materialize the token array ONCE per row before the shingle lambda.
    # Inlining the split(...) expression into each element_at re-evaluates
    # the tokenization per shingle element (O(n_tokens^2) per doc) —
    # measured 10x slower at sf0.1.
    # Expressions ride ONE selectExpr parse each (r15, guide §7.3): the
    # per-node Column construction of the HOF lambda alone cost ~0.26 s
    # of driver py4j time per plan build, once per consumer query.
    tokd = docs.selectExpr(
        "doc_id",
        r"split(lower(trim(regexp_replace(text, '\\s+', ' '))), ' ') AS t",
    ).filter(F.size("t") >= N_SHINGLE)
    # array_distinct here (not after an explode): per-doc shingle dedup
    # is a per-row operation, so doing it inside the array removes the
    # explode+distinct shuffle while producing the same distinct sets.
    return tokd.selectExpr(
        "doc_id",
        f"array_distinct(transform(sequence(1, size(t) - {N_SHINGLE - 1}), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), "
        "element_at(t, i + 2)))) AS arr",
    ).selectExpr("doc_id", "arr", "size(arr) AS n")


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) pairs, word 3-shingles (exploded form
    of ``_shingle_arrays`` — same rows as before the r8 array split)."""
    return _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("arr").alias("shingle")
    )


def _df_ordered_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle arrays in the GLOBAL PPJoin prefix order (document
    frequency asc, shingle asc): (doc_id, arr, n).

    This is the one persisted base both PPJoin variants need (late r8):
    a ``posexplode`` of the cached array yields every shingle's prefix
    rank (idx + 1) with NO window at all — the doc_id row_number window
    the previous shape ran over the full (shingle x df) join stream is
    replaced by a groupBy(doc_id) collect_list + per-row array_sort
    (map-side-combinable partial agg + an O(n log n) in-task sort per
    doc; a window partition cannot be split by AQE, a hot DOC here is
    one array row bounded by the doc's own shingle count).  The same
    arrays feed exact verification via ``array_intersect``, which is
    order-agnostic — candidate generation and verification now share
    ONE doc-level cache.

    Having the rank on BOTH join sides is what unlocks the PPJoin
    POSITIONAL filter (Xiao et al., PPJoin's second bound): a common
    shingle at ranks (i, j) caps the intersection at
    1 + min(na - i, nb - j), and the globally-first common shingle of
    any qualifying pair has the minimal rank in both lists, so
    filtering match rows by that bound before the pair-distinct is
    output-identical while shedding candidates the prefix+length
    filters cannot see.

    Returns ``(ordered_arrays, raw_arrays)`` UNPERSISTED; callers must
    ``persist()`` BOTH before materializing (the raw arrays feed two
    consumers — the df aggregate and the join-back — so without the
    cache the tokenize+shingle pass runs twice) and route both through
    ``release_with``.  Persisting at the caller keeps the AST cache
    sweep's per-function persist/release pairing checkable
    (tests/test_cache_scoping.py); laziness makes it equivalent —
    nothing executes before the caller's persist marks land."""
    arrs = _shingle_arrays(spark, sf_dir)
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    # df via groupBy(shingle).count() + equi-join back (r7 skew posture:
    # map-side combine, AQE-splittable join; never a shingle window).
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    oarr = (
        sh.join(dfs, "shingle")
        .groupBy("doc_id")
        .agg(F.expr("array_sort(collect_list(struct(df, shingle)))").alias("ds"))
        .selectExpr(
            "doc_id", "transform(ds, s -> s.shingle) AS arr", "size(ds) AS n"
        )
    )
    return oarr, arrs


_DUCK_SHINGLES = """
  toks AS (
    SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
    FROM documents
  ),
  shingles AS (
    SELECT DISTINCT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   for i in generate_series(1, len(t) - 2)]) AS shingle
    FROM toks WHERE len(t) >= 3
  )
"""


def _distribute_pairs(cand: DataFrame) -> DataFrame:
    """Hash-distribute candidate (doc_a, doc_b) match rows by doc_a across
    defaultParallelism partitions (the r14 fix for AQE's byte-blind
    coalesce: pair rows carry ~16 BYTES, so a byte-based exchange packs
    the expensive array_intersect verify into one or two tasks — measured
    a 1.5 s one-task stage in dedup_containment_ppjoin at sf0.1, ~40% of
    its wall).  doc_a is the SAME distribution the verify's first
    equi-join needs at corpus scale (where arrs is too big to broadcast),
    so the exchange is repurposed, not added."""
    return cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism, "doc_a"
    )


def _distinct_pairs(cand: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs from raw candidate match rows via
    ONE exchange (r15, guide §2.2 "shuffle less"): the doc_a
    re-distribution the verify stage needs (``_distribute_pairs``) is
    applied to the RAW match rows FIRST, and the pair-distinct then rides
    it exchange-free — HashPartitioning(doc_a) satisfies the distinct
    aggregate's ClusteredDistribution([doc_a, doc_b]) (partitioning
    expressions are a subset of the grouping keys), and the downstream
    doc_a equi-joins reuse the same partitioning.  The previous spelling
    (``.distinct()`` then repartition inside the verify) paid TWO
    exchanges over the same rows: map-side partial dedup before the
    distinct's (doc_a, doc_b) exchange catches ~nothing here because a
    pair's duplicate match rows come from DIFFERENT join keys (different
    shingles / LSH bands), i.e. different upstream tasks — so both
    spellings shuffle ~all raw match rows once, and this one skips the
    second full exchange of the distinct pairs.

    Skew hazard: the exchange ships RAW match rows, before dedup, so a
    hot doc_a (a boilerplate-heavy document) lands pair multiplicity x
    distinct partners rows (multiplicity <= bands or prefix overlaps) on
    ONE task, not just its distinct pairs.  The exchange is a fixed-N
    repartition, which AQE cannot split.  Measuring and bounding this is
    ROADMAP item 5."""
    return _distribute_pairs(cand).dropDuplicates(["doc_a", "doc_b"])


def _pair_intersections(cand: DataFrame, arrs: DataFrame) -> DataFrame:
    """Attach (arr_a, na, arr_b, nb, n_inter) to candidate (doc_a, doc_b)
    pairs via two doc-keyed equi-joins against the per-doc shingle arrays
    and an in-task ``size(array_intersect(...))`` (r8).

    This is the scale shape for exact verification: the exploded
    alternative fans each pair across its shingle rows through two
    shuffle joins, a groupBy(doc_a, doc_b) agg, and two sizes joins —
    five exchanges over fan-out-scale data — where this is two
    AQE-splittable equi-joins shuffling |cand| rows plus the arrays.
    Hot docs (many candidate pairs) are ordinary join skew, which AQE
    splits; the intersection work itself is the same O(|A|+|B|) per pair
    either way, just without the exchange between.

    CONTRACT (r15): ``cand`` must already be hash-distributed by doc_a —
    every caller routes through ``_distinct_pairs`` (or
    ``_distribute_pairs`` for a pre-distinct stream), which carries the
    r14 anti-single-task distribution; repartitioning again here would
    re-shuffle the distinct pairs a second time for nothing."""
    a = arrs.selectExpr("doc_id AS doc_a", "arr AS arr_a", "n AS na")
    b = arrs.selectExpr("doc_id AS doc_b", "arr AS arr_b", "n AS nb")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr("*", "size(array_intersect(arr_a, arr_b)) AS n_inter")
    )


def _jaccard_pairs_arrays(
    cand: DataFrame, arrs: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard >= threshold for candidate pairs, verified in-task
    against per-doc shingle arrays (see ``_pair_intersections``)."""
    return (
        _pair_intersections(cand, arrs)
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(n_inter AS DOUBLE) / ((na + nb) - n_inter) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_pairs(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs from an EXPLODED
    (doc_id, shingle) stream — kept for verification universes that are
    a filtered shingle stream rather than the full per-doc sets (the
    df-capped variants); everything verifying against full sets uses
    ``_jaccard_pairs_arrays``."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on normalized content.
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup via hash-groupBy on normalized content. One shuffle "
    "keyed by md5 (uniform, skew-free); keeper = min doc_id is an "
    "order-independent choice so the result is stable at any parallelism.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.encode(_norm_text(), "utf-8")).alias("content_hash"), "doc_id"
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Brute-force n-gram Jaccard (the correctness oracle for near-dup).
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    """,
    doc="Brute-force word-3-shingle Jaccard pairs >= 0.8. Quadratic per "
    "shared shingle — kept as the verification baseline; the LSH variant "
    "below is the 100 TB path.",
    tags=("dedup",),
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, *, allow_quadratic: bool = False
) -> DataFrame:
    guard_quadratic(
        load(spark, sf_dir, "documents"),
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        allow_quadratic=allow_quadratic,
    )
    # The shingle base feeds candidate generation AND verification —
    # persist the ARRAY form once (same move a cluster job would make; at
    # 100 TB this is a MEMORY_AND_DISK checkpoint): candidates explode it
    # narrowly, verification intersects the arrays in-task (r8).
    arrs = _shingle_arrays(spark, sf_dir).persist()
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = _distinct_pairs(
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return release_with(_jaccard_pairs_arrays(cand, arrs, JACCARD_THRESHOLD), arrs)


# ---------------------------------------------------------------------------
# PPJoin-style prefix filtering: EXACT set-similarity join without the
# quadratic candidate blowup (Chaudhuri et al. SSJoin / Xiao et al. PPJoin).
# ---------------------------------------------------------------------------
@register(
    "dedup_ppjoin",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    """,
    doc="EXACT Jaccard >= 0.8 pairs via prefix filtering (PPJoin family): "
    "shingles are globally ordered by (document frequency, shingle) and "
    "only each doc's first n - ceil(0.8n) + 1 rarest shingles generate "
    "candidates — any pair meeting the threshold provably shares a "
    "prefix shingle, so the result is IDENTICAL to the brute-force "
    "dedup_ngram_jaccard (same oracle) with ~5x fewer candidate rows "
    "and, crucially, no hot buckets: high-df boilerplate shingles fall "
    "outside every prefix. The prefix length uses integer arithmetic "
    "(ceil(4n/5) = (4n+4) div 5) so no FP rounding can shrink the "
    "prefix below the safe bound. This is the exactness-preserving "
    "scale path where MinHash-LSH is the probabilistic one.",
    tags=("dedup",),
)
def dedup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE persisted doc-level base (late r8): per-doc shingle arrays in
    # the global (df, shingle) prefix order.  The prefix ranks both
    # candidate sides need come from a narrow posexplode of the cache
    # (idx + 1 == the row_number the previous shape computed with a
    # doc_id window over the full shingle x df join stream), and exact
    # verification intersects the SAME arrays in-task — no window
    # anywhere in the plan.  The df table stays a
    # groupBy(shingle).count() + equi-join back inside the helper (r7
    # skew posture: map-side combine + AQE-splittable join; never a
    # shingle window — a license-header shingle with df 10^7 at 100 TB
    # would put 10^7 rows through one unsplittable window task).
    oarr, arrs = _df_ordered_shingle_arrays(spark, sf_dir)
    arrs = arrs.persist()
    oarr = oarr.persist()
    # NOTE(r14): an eager oarr.count() cache build was tried here and
    # measured WORSE (in-session alternating A/B at sf0.1: lazy min
    # 1.98s vs eager 2.51s on containment, similar on the others) — the
    # consumers share the shingle exchange, so the cold-cache race
    # recomputes little, while the count() barrier kills stage overlap.
    # Contrast embedding_near_dup_lsh, where the racing consumers each
    # recompute the 64-plane projection and the eager build wins.
    # p = n - ceil(t*n) + 1 with t = 4/5, all-integer so the bound is
    # safe; rn == idx + 1 is the PPJoin global rank, free from the cache.
    pos = oarr.selectExpr("doc_id", "n", "posexplode(arr) AS (idx, shingle)")
    prefix = pos.filter(
        F.expr("(idx + 1) <= ((n - ((4*n + 4) div 5)) + 1)")
    ).selectExpr("*", "idx + 1 AS rn")
    a = prefix.selectExpr(
        "doc_id AS doc_a", "shingle", "n AS na", "rn AS rna"
    )
    b = prefix.selectExpr(
        "doc_id AS doc_b", "shingle", "n AS nb", "rn AS rnb"
    )
    # Length filter (the second PPJoin bound): jaccard >= t forces
    # min(na,nb)/max(na,nb) >= t (intersection <= min, union >= max), so
    # size-mismatched candidates drop BEFORE the distinct + verification
    # joins. Integer form for t = 4/5: 5*min >= 4*max. Measured at
    # sf0.1: 122k raw candidate rows -> 46k (-62%), result unchanged.
    #
    # POSITIONAL filter (the third PPJoin bound, late r8): a common
    # shingle at ranks (rna, rnb) caps the intersection at
    # 1 + min(na - rna, nb - rnb); jaccard >= t needs
    # n_inter >= t/(1+t) * (na + nb) = 4/9 * (na + nb).  Sound because
    # the globally-first common shingle of a qualifying pair has the
    # minimal rank in BOTH lists (so it is in both prefixes and its
    # match row passes the bound) — every qualifying pair keeps at
    # least one generating row; non-qualifying survivors die in verify.
    # Measured (ppjoin_positional_filter in SCALING_SKEW.jsonl, min-of-2,
    # output-identical): candidates -70.6% at sf0.1 (43,543 -> 12,784;
    # wall 2.55 -> 1.71s) and -72.3% on the 40x XL hot-shingle twin
    # (1.97M -> 0.55M; wall 17.6 -> 8.5s = 2.07x) — the cut GROWS with
    # corpus size because rank collisions get rarer as sets diverge.
    cand = _distinct_pairs(
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.lit(5) * F.least("na", "nb") >= F.lit(4) * F.greatest("na", "nb")
        )
        .filter(
            F.lit(9)
            * (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("rna"), F.col("nb") - F.col("rnb")
                )
            )
            >= F.lit(4) * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b")
    )
    return release_with(
        _jaccard_pairs_arrays(cand, oarr, JACCARD_THRESHOLD), oarr, arrs
    )


# ---------------------------------------------------------------------------
# MinHash + LSH: the scale path for near-dup detection.
# ---------------------------------------------------------------------------
def _minhash_lsh_oracle(shingle_ctes: str) -> str:
    """DuckDB oracle for the MinHash+LSH pipeline, parameterized by the
    CTE block that defines ``shingles`` (raw or df-capped)."""
    return f"""
    WITH {shingle_ctes},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS v
      FROM shingles
    ),
    minhash AS (
      SELECT doc_id,
             {', '.join(f'MIN(({a} * v + {b}) % {MINHASH_P}) AS mh{s}' for s, (a, b) in enumerate(MINHASH_PERMS))}
      FROM hashed
      GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
          "SELECT doc_id, %d AS band, concat_ws(',', %s) AS band_val FROM minhash"
          % (bn, ', '.join(f'mh{s}' for s in range(bn * LSH_BAND_ROWS, (bn + 1) * LSH_BAND_ROWS)))
          for bn in range(MINHASH_SEEDS // LSH_BAND_ROWS))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.doc_a
      JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    """


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh11) columnar MinHash signatures.

    ONE md5 per shingle row -> 32-bit int v, then 12 cheap (a*v+b)%P
    permutation columns and ONE groupBy(doc_id) with 12 min() aggregates.
    Compared to a (doc, seed) row explosion this shuffles 12x fewer rows;
    compared to md5-per-seed it does 12x less hashing."""
    # Batched parsed-SQL construction (r15, guide §7.3): the per-node
    # Column loop for the 12 permutation exprs cost ~0.2 s of driver
    # py4j per plan build; one selectExpr call parses them all JVM-side.
    hashed = sh.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(encode(shingle, 'utf-8')), 1, 8), 16, 10) "
        "AS BIGINT) AS v",
    ).selectExpr(
        "doc_id",
        *[
            f"(({a} * v) + {b}) % {MINHASH_P} AS h{s}"
            for s, (a, b) in enumerate(MINHASH_PERMS)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{s}").alias(f"mh{s}") for s in range(MINHASH_SEEDS)]
    )


def _band_candidates(minhash: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (doc_a < doc_b) from signatures:
    bands computed in-row (no second shuffle), equi-join on
    (band, band_val) buckets."""
    n_bands = MINHASH_SEEDS // LSH_BAND_ROWS
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'band_val', concat_ws(',', "
        + ", ".join(
            f"mh{s}" for s in range(b * LSH_BAND_ROWS, (b + 1) * LSH_BAND_ROWS)
        )
        + "))"
        for b in range(n_bands)
    )
    bands = minhash.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bv"
    ).select("doc_id", "bv.band", "bv.band_val")
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_val")
    return _distinct_pairs(
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )


def _minhash_lsh_pairs(sh: DataFrame) -> DataFrame:
    """Verified near-dup pairs from a (doc_id, shingle) DataFrame.

    Exploded-verify spelling — used where the verification universe IS a
    filtered shingle stream (the df-capped variant); the full-set callers
    go through ``_jaccard_pairs_arrays`` instead."""
    # Persist the narrow (doc_id, mh0..mh11) signature frame (r15): the
    # band self-join consumes it TWICE (doc_a and doc_b sides), and
    # Catalyst plans the explode+md5+permutation+groupBy subtree once
    # per side — the hashing is the pipeline's dominant per-row cost, so
    # one cached pass beats two replays (A/B at the registered
    # full-set spelling: 6/6 stats favor persist; calibration already
    # used this shape).
    sigs = _minhash_signatures(sh).persist()
    cand = _band_candidates(sigs)
    return release_with(_jaccard_pairs(cand, sh, JACCARD_THRESHOLD), sigs)


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(_DUCK_SHINGLES),
    doc="MinHash(12 universal-hash permutations over one 32-bit md5 prefix "
    "per shingle) + LSH(4 bands x 3 rows) candidate generation, then "
    "exact-Jaccard verification of candidates only. The permutation "
    "arithmetic (a*v+b mod P) is exact BIGINT in both engines, so the "
    "candidate sets — and therefore the verified output — are "
    "engine-identical. At scale the band-bucket self-join replaces the "
    "quadratic shingle join: cost is proportional to actual near-duplicate "
    "groups, not corpus size^2.",
    tags=("dedup",),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persist the ARRAY base (r8): signatures explode it narrowly, the
    # verify intersects the arrays in-task (no fan-out/agg exchanges).
    # NOTE(r14): an eager arrs.count() build (the RP-LSH racing-consumer
    # fix) was A/B-measured WORSE here too — 2.79 vs 1.99s min at
    # sf0.1, value-identical: the verify side's leaf scan races the
    # signature chain but shingle arrays are cheap to recompute, so the
    # barrier costs more than the duplicated work (same verdict as the
    # ordered-arr and chunk caches).
    arrs = _shingle_arrays(spark, sf_dir).persist()
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    # Persist the narrow (doc_id, mh0..mh11) signature frame (r15): the
    # band self-join consumes it TWICE (doc_a and doc_b sides), so the
    # explode + md5 + 12-permutation + groupBy hashing subtree was
    # replayed from the arrs cache once per side.  Lazy persist (no
    # count barrier — the r14 eager-build verdicts stand): interleaved
    # A/B, cleared caches per pass — sf0.1 min 0.800 vs 0.966 and 0.729
    # vs 0.776, med 1.023 vs 1.218 and 0.874 vs 0.959 across two
    # sessions; x64 twin min 4.83 vs 6.34.  Same shape as
    # dedup_minhash_calibration's existing sigs persist.
    sigs = _minhash_signatures(sh).persist()
    cand = _band_candidates(sigs)
    return release_with(
        _jaccard_pairs_arrays(cand, arrs, JACCARD_THRESHOLD), arrs, sigs
    )


# ---------------------------------------------------------------------------
# Doc-frequency-capped MinHash LSH: the pathological-corpus escape hatch.
# ---------------------------------------------------------------------------
MINHASH_DF_CAP = 4

_DUCK_SHINGLES_CAPPED = f"""
  toks AS (
    SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
    FROM documents
  ),
  shingles_raw AS (
    SELECT DISTINCT doc_id,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   for i in generate_series(1, len(t) - 2)]) AS shingle
    FROM toks WHERE len(t) >= 3
  ),
  hot AS (
    SELECT shingle FROM shingles_raw GROUP BY shingle HAVING COUNT(*) > {MINHASH_DF_CAP}
  ),
  shingles AS (
    SELECT doc_id, shingle FROM shingles_raw
    WHERE shingle NOT IN (SELECT shingle FROM hot)
  )
"""


@register(
    "dedup_minhash_lsh_dfcap",
    oracle=_minhash_lsh_oracle(_DUCK_SHINGLES_CAPPED),
    doc="MinHash LSH with a document-frequency cap on shingles: any "
    f"shingle present in more than {MINHASH_DF_CAP} documents is dropped "
    "before signatures, banding, AND verification. Boilerplate shingles "
    "(license headers, templates) are what create quadratic hot LSH "
    "buckets at corpus scale — AQE skew-join splits moderate cases, but a "
    "df cap removes the blow-up at the source, at the cost of ignoring "
    "boilerplate-only similarity (usually the desired semantics for "
    "training-data dedup). The cap applies as a per-shingle df "
    "join-back + filter (one AQE-splittable equi-join, fan-out 1/row) — "
    "NOT a broadcast anti-join against the over-cap set, which under an "
    "absolute cap is the m/cap vocabulary tail and grows without bound "
    "in corpus size (r10 fix: a hint must never force an unbounded "
    "build side).",
    tags=("dedup",),
)
def dedup_minhash_lsh_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10: the capped stream comes from an equi-join back to the
    # per-shingle df aggregate + a df <= cap filter, NOT a broadcast
    # anti-join against the over-cap set.  With an ABSOLUTE cap the
    # over-cap set is the vocabulary tail m/cap — unbounded in corpus
    # size — so the old F.broadcast(hot) hint forced an arbitrarily
    # large build side onto every executor (the one shape a hint cannot
    # be allowed to force).  The join-back is one AQE-splittable
    # equi-join with fan-out exactly 1 per row, identical output
    # (every shingle appears in its own df aggregate).
    sh_raw = _shingles(spark, sf_dir).persist()
    dfs = sh_raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = (
        sh_raw.join(dfs, "shingle")
        .filter(F.col("df") <= MINHASH_DF_CAP)
        .select("doc_id", "shingle")
        .persist()
    )
    return release_with(_minhash_lsh_pairs(sh), sh, sh_raw)


# ---------------------------------------------------------------------------
# Duplicate-cluster formation: connected components over near-dup pairs.
# ---------------------------------------------------------------------------
# Hard cap for the driver union-find path: 2^20 directed edges is ~16 MB
# of (long, long) rows — bounded driver memory at ANY corpus size, the
# same posture as similarity.MAX_FIT_ROWS. Above it, the distributed
# min-label fixpoint runs; the cutover is decided by the MEASURED edge
# count (und is persisted either way, so the count is one cheap job on
# data the fixpoint would materialize regardless).
CC_COLLECT_MAX_EDGES = 1 << 20


@register(
    "dedup_components",
    # The oracle re-derives the SAME verified pair set (the dedup_minhash_lsh
    # query) and then computes components with a recursive min-label walk.
    # Assembled lazily below (needs the registered minhash oracle text).
    oracle="__DEFERRED__",
    doc="Duplicate-cluster assignment: every document labeled with the min "
    "doc_id of its near-duplicate connected component (LSH-verified pairs "
    "as edges; docs with no pair are their own component). Two physical "
    "strategies behind one semantics, chosen by the MEASURED edge count "
    "(the same adaptive posture as AQE's broadcast-vs-shuffle pick and "
    "the bounded ANN codebook fits): at or below CC_COLLECT_MAX_EDGES "
    "(2^20 directed edges, ~16 MB — a hard driver-memory bound at ANY "
    "corpus size) a driver union-find resolves the components in one "
    "bounded collect, eliminating the per-round job overhead that "
    "dominates small graphs; above the cap, iterative min-label "
    "propagation — each round is one join + one groupBy-min on the label "
    "frame, lineage cut per round (localCheckpoint locally; pass "
    "checkpoint='reliable' for a fault-tolerant checkpoint dir on "
    "preemptible clusters), converging in O(component diameter) rounds. "
    "Both paths produce the identical min-label fixpoint "
    "(test-asserted); only bounded data (edge list under the cap, or the "
    "per-round convergence scalar) ever touches the driver.",
    tags=("dedup", "iterative"),
)
def dedup_components(
    spark: SparkSession,
    sf_dir: str,
    *,
    checkpoint: str = "local",
) -> DataFrame:
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")
    if checkpoint == "reliable" and spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "checkpoint='reliable' requires spark.sparkContext.setCheckpointDir "
            "(an HDFS/S3 path on a real cluster) before calling dedup_components"
        )
    # Hold the upstream result object for the whole function: its shingle
    # cache is scoped to it (release_with) and must survive until the
    # propagation loop below has materialized the edge list.
    lsh_pairs = dedup_minhash_lsh(spark, sf_dir)
    pairs = lsh_pairs.select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # Materialize the DIRECTED pair list ONCE before mirroring it:
    # ``pairs ∪ reversed(pairs)`` is two identical LSH subtrees to
    # Catalyst (it does not dedup common subexpressions across a union),
    # so building the undirected edge list straight off the query ran
    # the whole verify pipeline twice — measured 3.9s vs 1.3s for one
    # LSH pass at sf0.1. One persisted pairs frame feeds both mirror
    # directions and the strategy-pick count.
    pairs = pairs.persist()
    # Routed through cached_probe like every other strategy probe (the
    # switch-registry detection instruments that one choke point); the
    # count also materializes the persisted pairs frame on first call.
    from osm2orc_spark.operators import switches

    n_edges = switches.cached_probe(
        sf_dir, "cc_n_edges", lambda: 2 * pairs.count()
    )
    # Strategy pick by MEASURED size (the AQE idiom): the paired subgraph
    # is O(|near-dup pairs|) — usually minuscule next to the corpus — and
    # the distributed fixpoint's per-round job overhead (2 joins, 2 aggs,
    # checkpoint, convergence collect) dwarfs the actual work on a small
    # graph. At or under the hard cap, one bounded collect + union-find
    # resolves the identical min-label fixpoint in O(E α(E)) driver time;
    # above it, the loop below scales to any edge count.
    if n_edges <= CC_COLLECT_MAX_EDGES:
        from pyspark.sql import types as T

        parent: dict = {}

        def _find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])  # path halving
                x = parent[x]
            return x

        rows = pairs.collect()  # bounded: n_edges/2 cached rows
        dt = pairs.schema["doc_a"].dataType
        safe_unpersist(pairs)
        nodes = {r.doc_a for r in rows} | {r.doc_b for r in rows}
        for r in rows:
            ra, rb = _find(r.doc_a), _find(r.doc_b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                # union-by-min: the surviving root is the smaller id, so
                # every root is its component's min doc_id — the same
                # label the distributed fixpoint converges to.
                parent[rb] = ra
        labels = spark.createDataFrame(
            [(n, _find(n)) for n in sorted(nodes)],
            T.StructType(
                [
                    T.StructField("doc_id", dt, False),
                    T.StructField("component", dt, False),
                ]
            ),
        )
        singles = docs.join(labels, "doc_id", "left_anti").select(
            "doc_id", F.col("doc_id").alias("component")
        )
        return labels.unionByName(singles)
    und = (
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        # Persist the edge list ALREADY hash-partitioned on the join key:
        # every propagation hop joins on doc_a, so the cached layout
        # satisfies the join's distribution requirement and only the
        # (much smaller) labels frame is exchanged per hop. At local
        # scale AQE broadcasts the tiny frames either way; on a cluster
        # this halves per-iteration shuffle volume. Both union branches
        # read the pairs cache, so the LSH pipeline still runs once.
        .repartition(spark.sparkContext.defaultParallelism, "doc_a")
        .persist()
    )
    und.count()  # materialize past pairs so its cache can release now
    safe_unpersist(pairs)
    # Iterate ONLY over nodes that have at least one edge: isolated docs
    # can never change label, so propagating them through every round
    # would shuffle the whole corpus per iteration for nothing. At 100 TB
    # near-dup pairs are sparse — the loop frame is O(|paired docs|),
    # orders of magnitude smaller than the corpus; singletons rejoin as
    # their own component once, after the fixpoint. (und holds both edge
    # directions, so doc_a alone covers every endpoint.)
    paired = und.select(F.col("doc_a").alias("doc_id")).distinct().persist()
    labels = paired.select("doc_id", F.col("doc_id").alias("component")).persist()
    prev_sum = None
    while True:
        # Two propagation hops per materialized round: each hop is one
        # join + one min-agg, and doubling the hops halves the number of
        # checkpoint+convergence-check round trips (the fixed per-round
        # cost that dominates on shallow near-dup clusters). The fixpoint
        # is identical -- min-label propagation is monotone.
        merged = labels
        for _ in range(2):
            neighbor = (
                merged.join(und, merged.doc_id == und.doc_a)
                .select(F.col("doc_b").alias("doc_id"), "component")
            )
            merged = (
                merged.unionByName(neighbor)
                .groupBy("doc_id")
                .agg(F.min("component").alias("component"))
            )
        # Cut lineage and materialize the round: executor-local blocks for
        # single-node runs, a reliable checkpoint dir for clusters where
        # losing an executor must not kill the accumulated iterations.
        # The checkpoint is LAZY and the convergence-sum collect is the
        # action that materializes it — one job per round instead of an
        # eager-checkpoint job followed by a separate aggregation job
        # (the per-round driver round trips are the fixed cost that
        # dominates this loop on shallow clusters).
        if checkpoint == "reliable":
            new_labels = merged.checkpoint(eager=False)
        else:
            new_labels = merged.localCheckpoint(eager=False)
        cur_sum = new_labels.agg(F.sum("component")).collect()[0][0]
        safe_unpersist(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    safe_unpersist(und)
    # labels' doc_id set IS the paired set (propagation never adds nodes),
    # and the fixpoint frame is checkpointed — so the singleton anti-join
    # can run against labels and the paired cache can be released here
    # instead of leaking for the session lifetime.
    safe_unpersist(paired)
    singles = docs.join(labels, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return labels.unionByName(singles)


def _assemble_components_oracle() -> None:
    """The components oracle wraps the registered minhash-LSH oracle as its
    edge list and resolves components with a recursive min-label walk —
    the serial twin of the distributed label propagation above."""
    from osm2orc_spark.registry import REGISTRY

    pairs_sql = REGISTRY["dedup_minhash_lsh"].oracle
    REGISTRY["dedup_components"].oracle = f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    walk(n, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.b, w.lbl FROM walk w JOIN und u ON u.a = w.n WHERE w.lbl < u.b
    )
    SELECT n AS doc_id, MIN(lbl) AS component FROM walk GROUP BY n
    """


_assemble_components_oracle()


# ---------------------------------------------------------------------------
# SimHash 48-bit signatures + hamming near-dup pairs.
# ---------------------------------------------------------------------------
_DUCK_SIMHASH = """
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, tok,
             CAST(concat('0x', substr(md5(tok), 1, 12)) AS BIGINT) AS v
      FROM toks
    ),
    bits AS (SELECT unnest(generate_series(0, 47)) AS b),
    contrib AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN bits
      GROUP BY doc_id, b
    ),
    sigs AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS simhash
      FROM contrib
      GROUP BY doc_id
    )
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash per doc_id (shared by signature + near-dup queries).

    Columnar form: one conditional-sum aggregate per bit instead of a
    (token x 48)-row explode — the fan-out version shuffles 48x more rows
    for identical results (same trick as the MinHash columnar min-aggs).
    """
    # Repartition before the per-token fan-out (see _shingle_arrays note;
    # r15: gated on the scan split count like every fan-out site).
    from osm2orc_spark.operators import switches

    docs = switches.fanout_repartition(
        spark, sf_dir, load(spark, sf_dir, "documents"), "doc_id"
    )
    # Per-doc token dedup happens INSIDE the row (array_distinct) before
    # the explode: identical (doc_id, tok) set to explode+distinct, but
    # narrow — no dedup shuffle, and the downstream groupBy(doc_id)
    # reuses the repartition's hash partitioning (zero extra exchanges).
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(_norm_text(), " "))).alias("tok"),
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.encode("tok", "utf-8")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("v"),
    )
    # Packed-lane bit sums (r15, guide §2.3 "narrower aggregation" +
    # §7.3 planning cost).  The r14 shape ran one ±1 conditional sum per
    # bit (48 aggregate columns); each per-bit sum s_b equals
    # 2*ones_b - n, so `bit set iff s_b > 0 iff 2*ones_b > n` needs only
    # the ones-counts and one count(*).  Two 32-bit ones-counters pack
    # into each 64-bit sum lane (bits j and j+24), halving the aggregate
    # width to 24 packed sums + n: half the hash-agg update columns and
    # half the partial-agg bytes per doc on the exchange.  Overflow-free
    # BY CONSTRUCTION at any corpus: ones per lane <= tokens/doc < 2^30
    # (a Spark string caps at ~2^31 bytes, tokens are space-separated),
    # so lane sums stay < 2^32 (no carry between lanes) and the packed
    # row values are <= 2^32+1 with total < 2^30*(2^32+1) < 2^63.
    # NOTE(r14): an UNPACKED branchless twin (48 separate ones-sums +
    # count) measured ~8% slower than the ±1 when-form — the win here is
    # the 2x lane packing, not the ones-count rewrite alone.
    # Expressions are built as parsed SQL strings, not per-node Column
    # calls: the r14 ±1 spelling spent 1.5-3.6 s of DRIVER time per call
    # in py4j round-trips constructing 48 agg + 48 CASE columns (the
    # similarity.py RP_BITS=64 lesson; guide §7.3 — planning time is
    # real time).
    packed = [
        F.expr(
            f"sum((shiftright(v, {j}) & 1) + "
            f"shiftleft(shiftright(v, {j + 24}) & 1, 32))"
        ).alias(f"p{j}")
        for j in range(24)
    ]
    bit_sums = hashed.groupBy("doc_id").agg(
        *packed, F.count(F.lit(1)).alias("n")
    )
    ones = [
        f"(p{b} & 4294967295)" if b < 24 else f"shiftright(p{b - 24}, 32)"
        for b in range(48)
    ]
    sig_sql = " + ".join(
        f"(CASE WHEN 2 * {ones[b]} > n THEN {2**b} ELSE 0 END)" for b in range(48)
    )
    return bit_sums.select(
        "doc_id", F.expr(f"CAST({sig_sql} AS BIGINT)").alias("simhash")
    )


@register(
    "simhash_signature",
    oracle=f"""
    WITH {_DUCK_SIMHASH}
    SELECT doc_id, simhash FROM sigs
    """,
    doc="48-bit SimHash over distinct tokens (token hash = first 12 hex "
    "chars of md5 — identical in both engines; 48 bits keeps the "
    "power-of-two sum exact in IEEE double). Near-dup grouping = hamming "
    "proximity on the signature; signatures shuffle once per (doc,bit) "
    "partial aggregation.",
    tags=("dedup",),
)
def simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_df(spark, sf_dir)


SIMHASH_CHUNKS = 4  # 4 x 12-bit chunks; pigeonhole covers hamming <= 3
SIMHASH_HAMMING_MAX = 3


def _simhash_chunks(sigs: DataFrame) -> DataFrame:
    """Level-1 banding rows: one (doc_id, simhash, c, chunk_val) per
    12-bit chunk position — shared by the registered banded join and the
    coincidence-mass regime probe (same expressions, so sharing keeps the
    banded plan byte-identical to the pre-probe spelling)."""
    chunk_structs = [
        F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("simhash"), 12 * c)
            .bitwiseAND(F.lit(4095))
            .alias("chunk_val"),
        )
        for c in range(SIMHASH_CHUNKS)
    ]
    return sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("ch")
    ).select("doc_id", "simhash", "ch.c", "ch.chunk_val")


def _simhash_flat_pairs(spark: SparkSession, sf_dir: str, sigs: DataFrame) -> int:
    """The coincidence-mass probe (r9 verdict #4): candidate pairs held
    in FLAT level-1 buckets — buckets at or below the Poisson coincidence
    level n/4096 + SIMHASH_FLAT_SIGMA * sqrt(n/4096) (floored at the
    refinement bucket cap).  This is exactly the join mass the recursive
    pigeonhole refinement can remove (~128x measured); mass in buckets
    ABOVE the level sits in a real signature cluster whose pairs agree
    on the residual sub-chunks and survive refinement, so it never
    counts toward the refine decision.  One bounded agg over at most
    4 * 2^12 = 16,384 groups of the already-persisted signature frame,
    returning a single row."""
    import math

    from osm2orc_spark.operators import switches

    n_docs = switches.table_rows(spark, sf_dir, "documents")
    exp = n_docs / 4096.0
    flat_cap = max(
        SIMHASH_BUCKET_CAP,
        math.ceil(exp + switches.SIMHASH_FLAT_SIGMA * math.sqrt(exp)),
    )
    row = (
        _simhash_chunks(sigs)
        .groupBy("c", "chunk_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.when(F.col("n") <= flat_cap, F.expr("n * (n - 1) DIV 2"))
                .otherwise(F.lit(0))
            ).alias("flat_pairs")
        )
        .first()
    )
    return int(row["flat_pairs"] or 0)


@register(
    "simhash_near_dup",
    oracle=f"""
    WITH {_DUCK_SIMHASH},
    chunks AS (
      SELECT doc_id, simhash, c,
             (simhash >> (12 * c)) & 4095 AS chunk_val
      FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_CHUNKS - 1})) AS c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_HAMMING_MAX}
    """,
    doc="SimHash near-dup pairs with hamming <= 3 over the 48-bit "
    "signature. Pigeonhole banding: split the signature into 4 x 12-bit "
    "chunks — any pair within hamming 3 must agree on at least one chunk, "
    "so the candidate join is an equi-join on (chunk_idx, chunk_val) "
    "buckets, never an all-pairs scan. Verification is bit_count(xor) on "
    "the candidate pairs only. Same LSH shape as dedup_minhash_lsh but "
    "with O(1) signature storage per doc and cheap integer verify — the "
    "preferred plan when the near-dup notion is 'few differing tokens' "
    "rather than a Jaccard threshold. Auto-switches to the EXACT "
    "recursive-pigeonhole refinement (bit-identical at any size) when "
    "the memoized coincidence-mass probe finds more than "
    "SIMHASH_FLAT_PAIRS_MAX candidate pairs in FLAT level-1 buckets — "
    "the join mass refinement can remove (~128x measured: 1.95e9 -> "
    "15.3e6 pairs at 2e6 uniform signatures, r8 verdict #1b).  Mass "
    "concentrated in buckets above the Poisson coincidence level is a "
    "real signature cluster whose pairs survive sub-chunk splitting, so "
    "a truth-dominated corpus keeps the banded plan AT ANY SIZE instead "
    "of paying refinement's ~2x fan-out for nothing (r9 verdict #4 — "
    "replaces the r9 corpus-size criterion).",
    tags=("dedup",),
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    sigs = _simhash_df(spark, sf_dir).persist()
    flat = switches.cached_probe(
        sf_dir, "simhash_flat_pairs",
        lambda: _simhash_flat_pairs(spark, sf_dir, sigs),
    )
    if flat > switches.SIMHASH_FLAT_PAIRS_MAX:
        return simhash_near_dup_refined(spark, sf_dir, sigs=sigs)
    chunks = _simhash_chunks(sigs)
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "c", "chunk_val"
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "c", "chunk_val"
    )
    cand = (
        a.join(b, ["c", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return release_with(
        cand.select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX),
        sigs,
    )


# Level-1 simhash buckets above this size get their band key refined.
# sf0.1 ALREADY has a 1,656-doc bucket (33% of the corpus shares one
# 12-bit chunk value — `simhash_xl` in SCALING_SKEW.jsonl), so unlike
# the RP-LSH cap this one is exercised at the driver SFs; the identity
# test therefore covers the refined path, not just the cold one.
SIMHASH_BUCKET_CAP = 256


def simhash_near_dup_refined(
    spark: SparkSession,
    sf_dir: str,
    *,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Scale path for ``simhash_near_dup`` — since r9 the registered
    query's own hot path (it auto-delegates here when the memoized
    coincidence-mass probe exceeds switches.SIMHASH_FLAT_PAIRS_MAX;
    r8 verdict #1b, criterion re-derived per the r9 verdict #4) — and
    unlike the RP-LSH refinement this one is EXACT: output provably
    identical to the registered query at ANY corpus size.

    The registered 4 x 12-bit banding is sound by pigeonhole (<= 3 bit
    errors cannot dirty all 4 chunks) but its bucket space is fixed at
    4 x 2^12, so bucket SIZE — and the candidate join — grows linearly
    with the corpus (quadratic pairs): measured 3.86M -> 202M join rows
    for 40x docs, with the sf0.1 hot chunk alone holding 33% of all
    docs (a 100 TB corpus would put ~n^2/18 pairs through that one
    bucket's join).

    Refinement recurses the pigeonhole (multi-index Hamming search, a
    la HmSearch): docs in a HOT (c, cv) bucket agree on chunk c, so a
    qualifying pair's <= 3 errors all lie in the residual 36 bits;
    splitting the residual into FOUR 9-bit sub-chunks guarantees one
    clean sub-chunk, so joining hot rows on (c, cv, s, scv) (4 rows per
    doc-chunk) still generates every true pair — candidates shrink
    ~(512/4)x per hot bucket. Cold buckets keep the level-1 key via a
    (-1, -1) sentinel. Exactness argument: a clean chunk c exists for
    every qualifying pair; if its bucket is cold the level-1 row
    matches, if hot the clean-sub-chunk row matches — either way the
    pair reaches the exact hamming verify, and the verify makes any
    extra candidates harmless, so refined == registered always
    (test-asserted at sf0.01 AND sf0.1, where the hot path is live).

    ``sigs`` lets the registered dispatcher hand over its
    already-persisted signature frame (the probe computed it anyway)."""
    if sigs is None:
        sigs = _simhash_df(spark, sf_dir).persist()
    # Per-chunk structs carry the residual's four 9-bit sub-chunk values
    # alongside the 12-bit chunk value.  All shifts are per-c constants:
    # the residual R = the other three chunks in cyclic order
    # (c+1, c+2, c+3), so R's bit s*9..s*9+9 maps to fixed simhash bits.
    def _residual(c: int) -> Column:
        r = None
        for k in (1, 2, 3):
            cv_k = F.shiftright(F.col("simhash"), 12 * ((c + k) % 4)).bitwiseAND(
                F.lit(4095)
            )
            term = cv_k * F.lit(2 ** (12 * (k - 1)))
            r = term if r is None else r + term
        return r
    chunk_structs = [
        F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("simhash"), 12 * c)
            .bitwiseAND(F.lit(4095))
            .alias("cv"),
            F.array(
                *[
                    F.shiftright(_residual(c), 9 * s)
                    .bitwiseAND(F.lit(511))
                    .cast("long")
                    .alias(f"r{s}")
                    for s in range(4)
                ]
            ).alias("subs"),
        )
        for c in range(SIMHASH_CHUNKS)
    ]
    chunks = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("ch")
    ).select("doc_id", "simhash", "ch.c", F.col("ch.cv").alias("cv"), "ch.subs")
    # Hot level-1 buckets: at most 4 * 2^12 = 16,384 rows at ANY corpus
    # size — always broadcastable.
    hot = (
        chunks.groupBy("c", "cv")
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .filter(F.col("n_bucket") > SIMHASH_BUCKET_CAP)
        .select("c", "cv")
    )
    cold_keys = chunks.join(F.broadcast(hot), ["c", "cv"], "left_anti").select(
        "doc_id",
        "simhash",
        "c",
        "cv",
        F.lit(-1).alias("s"),
        F.lit(-1).cast("long").alias("scv"),
    )
    hot_keys = (
        chunks.join(F.broadcast(hot), ["c", "cv"], "left_semi")
        .select(
            "doc_id", "simhash", "c", "cv", F.posexplode("subs").alias("s", "scv")
        )
    )
    keys = cold_keys.unionByName(hot_keys)
    a = keys.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
        "c",
        "cv",
        "s",
        "scv",
    )
    b = keys.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
        "c",
        "cv",
        "s",
        "scv",
    )
    cand = (
        a.join(b, ["c", "cv", "s", "scv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return release_with(
        cand.select("doc_a", "doc_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX),
        sigs,
    )


# ---------------------------------------------------------------------------
# Corpus-frequency boilerplate removal (CCNet-style line dedup, adapted:
# the synthetic corpus has no newlines, so the unit is a fixed 2-token
# chunk instead of a line — the dataflow is identical).
# ---------------------------------------------------------------------------
BOILER_CHUNK_TOKENS = 2
# A chunk is boilerplate when it appears in more than 1/BOILER_DF_DIV of
# all documents (4%) — fraction-based, so the rule is scale-invariant.
BOILER_DF_DIV = 25


@register(
    "dedup_boilerplate_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(t[(i*{BOILER_CHUNK_TOKENS}+1):(i*{BOILER_CHUNK_TOKENS}+{BOILER_CHUNK_TOKENS})], ' ') AS chunk_text
      FROM toks, UNNEST(range(CAST(ceil(len(t) / {BOILER_CHUNK_TOKENS}.0) AS BIGINT))) AS u(i)
    ),
    common AS (
      SELECT chunk_text FROM chunks
      GROUP BY chunk_text
      HAVING COUNT(DISTINCT doc_id) * {BOILER_DF_DIV} > (SELECT COUNT(*) FROM documents)
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN m.chunk_text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           COALESCE(string_agg(CASE WHEN m.chunk_text IS NULL THEN c.chunk_text END,
                               ' ' ORDER BY c.chunk_idx), '') AS clean_text
    FROM chunks c LEFT JOIN common m ON c.chunk_text = m.chunk_text
    GROUP BY c.doc_id
    """,
    doc="Corpus-frequency boilerplate removal, the CCNet line-dedup "
    f"dataflow over {BOILER_CHUNK_TOKENS}-token chunks: hash-count each "
    "chunk's document frequency, mark chunks present in more than "
    f"1/{BOILER_DF_DIV} of all documents as boilerplate, and emit each "
    "document's cleaned text (surviving chunks re-joined in order) plus "
    "chunk counts. Scale shape: the common-chunk set is tiny by "
    "construction (true boilerplate is few distinct strings, 62 of 944 "
    "here), so it BROADCASTS — marking is a map-side hash probe, no "
    "shuffle of the chunk fan-out; the only wide ops are the frequency "
    "groupBy and the final per-doc reassembly, both map-side-combinable. "
    "Reassembly keeps chunk order via sort-within-group, not a global "
    "sort.",
    tags=("dedup", "curation"),
)
def dedup_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    # Repartition before the chunk fan-out, gated on the scan split
    # count (r15 — see _shingle_arrays).
    docs = switches.fanout_repartition(
        spark, sf_dir, load(spark, sf_dir, "documents"), "doc_id"
    )
    tokd = docs.select("doc_id", F.split(_norm_text(), " ").alias("t"))
    k = BOILER_CHUNK_TOKENS
    chunk_arr = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("t") / k).cast("int") - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice("t", i * k + 1, k)).alias("chunk_text"),
        ),
    )
    # NOTE(r14): persisting the chunk stream (the repeated-subtree rule
    # dedup_duplicate_spans applies to its span stream) was A/B-measured
    # WORSE here — 1.06 vs 0.91s min at sf0.1, value-identical: the
    # 2-token chunk explode is cheap enough that the cold-cache
    # consumer race + cache write cost more than the saved recompute
    # (same outcome as the containment shingle caches).
    chunks = tokd.select("doc_id", F.explode(chunk_arr).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.chunk_text"
    )
    # n_docs as a broadcast scalar, not an eager .count(): keeps the
    # whole operator one lazy plan (no extra driver-blocking job; the
    # one-row aggregate broadcasts into the threshold filter).  Counting
    # off the raw scan instead (metadata count, no repartition exchange)
    # was also A/B-measured: wash-to-worse at sf0.1 (1.10 vs 0.87s min)
    # — the pruned-column exchange count is cheap and overlaps; kept.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    common = (
        chunks.groupBy("chunk_text")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * BOILER_DF_DIV > F.col("n_docs"))
        .select("chunk_text", F.lit(True).alias("is_boiler"))
    )
    marked = chunks.join(F.broadcast(common), "chunk_text", "left")
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("is_boiler").isNull(),
                        F.struct("chunk_idx", "chunk_text"),
                    )
                )
            ),
            lambda s: s.chunk_text,
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).alias("n_boiler"),
        kept_text.alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage: blocking + sorted neighborhood + edit-distance
# verify. The scale-safe alternative to an all-pairs string-similarity
# join: block on a cheap key (first token), sort within the block, and
# compare each record only to its SNM_WINDOW sorted successors -- work is
# O(n * W) instead of O(n^2), and the verify step (levenshtein) runs on
# candidate pairs only.
# ---------------------------------------------------------------------------
SNM_WINDOW = 5
FUZZY_MAX_LEV = 4


@register(
    "fuzzy_name_match",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk,
             ROW_NUMBER() OVER (PARTITION BY split_part(p_name, ' ', 1)
                                ORDER BY p_name, p_partkey) AS rn
      FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
    FROM t a JOIN t b
      ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW}
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_LEV}
    """,
    doc=f"Fuzzy part-name linkage via blocking (first token) + sorted "
    f"neighborhood (window {SNM_WINDOW} over name-sorted rows per block) "
    f"+ Levenshtein verify (<= {FUZZY_MAX_LEV}). r10 plan (output "
    "identical, same oracle): the per-block rank is split-and-stitch "
    "over order-aligned name-PREFIX chunks (in-chunk row_number + a "
    "cumulative chunk-count offset over the bounded per-chunk summary), "
    "so a hot block never sorts in one window task; and the rank band "
    f"rides as an EQUI key — bucket = (rn-1) div {SNM_WINDOW} on the "
    "anchor side, the probe side explodes to {{bucket, bucket-1}} (a "
    "band pair always lands in the anchor's bucket or the next, and "
    "exactly one emitted row matches) — so the join does Theta(n*W) "
    "work on W-row groups instead of the r1-r9 shape's equi-join on "
    "blk alone, whose band predicate was a RESIDUAL evaluated on every "
    "intra-block pair: Theta(block^2) comparisons inside sort-merge "
    "(TPC-H has ~92 first-word blocks, so that was Theta(n^2/92) at "
    "any scale — measured 124x at 1.15M parts, fuzzy_snm_xl). At "
    "100 TB the (blk, bucket) keys shard the shuffle at W-row "
    "granularity: no hot key anywhere.",
    tags=("dedup", "fuzzy"),
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    t = part.select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ").getItem(0).alias("blk"),
    )
    t = _chunked_block_rn(
        t,
        blk_col="blk",
        order_cols=("p_name", "p_partkey"),
        chunk=F.col("p_name").substr(F.lit(1), F.length("blk") + 4),
    )
    bucket = ((F.col("rn") - 1) / SNM_WINDOW).cast("long")
    a = t.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "blk",
        F.col("rn").alias("rn_a"),
        bucket.alias("bucket"),
    )
    b = t.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "blk",
        F.col("rn").alias("rn_b"),
        F.explode(F.array(bucket, bucket - 1)).alias("bucket"),
    )
    lev = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, ["blk", "bucket"])
        .filter(
            (F.col("rn_b") - F.col("rn_a") >= 1)
            & (F.col("rn_b") - F.col("rn_a") <= SNM_WINDOW)
        )
        .filter(lev <= FUZZY_MAX_LEV)
        .select(
            "part_a",
            "part_b",
            "name_a",
            "name_b",
            lev.cast("bigint").alias("lev"),
        )
    )


def _chunked_block_rn(
    t: DataFrame,
    blk_col: str,
    order_cols: tuple,
    chunk: Column,
) -> DataFrame:
    """Per-block row_number ``rn`` by split-and-stitch over an ORDER-ALIGNED
    chunk expression — the operators/chunked.py cure applied to string
    sort order instead of event time.

    ``chunk`` must be a per-row expression that is monotone in the
    block's sort order (here: a fixed-length PREFIX of the sort string
    — prefix comparison can never invert full-string comparison, and
    equal strings share a chunk, so chunk boundaries respect both the
    order and its ties).  rn = in-chunk row_number (window partitioned
    by (blk, chunk) — a hot block splits across its chunks) + the
    cumulative count of the block's EARLIER chunks (a window over the
    per-chunk summary, bounded by the number of distinct prefixes per
    block, independent of block row count).  Identical to
    row_number() OVER (PARTITION BY blk ORDER BY order_cols) by the
    same stitch argument as the chunked event-time cores;
    property-tested against the window spelling on adversarial
    strings."""
    from pyspark.sql.window import Window as W

    d = t.withColumn("_chunk", chunk)
    wl = W.partitionBy(blk_col, "_chunk").orderBy(*[F.col(c) for c in order_cols])
    out = d.withColumn("_rn", F.row_number().over(wl))
    summ = d.groupBy(blk_col, "_chunk").agg(F.count(F.lit(1)).alias("_cnt"))
    wc = W.partitionBy(blk_col).orderBy("_chunk")
    summ = summ.select(
        blk_col,
        "_chunk",
        F.coalesce(
            F.sum("_cnt").over(wc.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        out.join(summ, [blk_col, "_chunk"])
        .withColumn("rn", F.col("_off") + F.col("_rn"))
        .drop("_chunk", "_rn", "_off")
    )


# ---------------------------------------------------------------------------
# Exact duplicate-span detection (the substring-dedup primitive from
# "Deduplicating Training Data Makes Language Models Better", Lee et al.
# 2022): shingle SPAN_N-token windows, keep windows occurring in >= 2
# distinct documents, then merge each document's overlapping hits into
# MAXIMAL duplicated token ranges -- the spans a substring-dedup pass
# would cut. (The paper builds a suffix array; over a distributed corpus
# the equivalent fixed-n shingle group-by finds the same >=n-token
# duplicated regions, with merging recovering maximal extents.)
# ---------------------------------------------------------------------------
SPAN_N = 8


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, g AS pos, array_to_string(toks[g:g+{SPAN_N - 1}], ' ') AS span
      FROM t CROSS JOIN unnest(generate_series(1, len(toks) - {SPAN_N - 1})) AS u(g)
    ),
    dup AS (
      SELECT span FROM s GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT s.doc_id, s.pos FROM s JOIN dup ON dup.span = s.span
    ),
    islands AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS start_tok,
           CAST(MAX(pos) + {SPAN_N - 1} AS BIGINT) AS end_tok,
           CAST(MAX(pos) + {SPAN_N} - MIN(pos) AS BIGINT) AS span_tokens
    FROM islands
    GROUP BY doc_id, grp
    """,
    doc=f"Maximal duplicated token ranges per document: {SPAN_N}-token "
    "shingles, windows occurring in >= 2 distinct docs (min(doc_id) != "
    "max(doc_id) via groupBy partial aggregation — no distinct "
    "machinery), hits merged into maximal ranges via the "
    "gaps-and-islands window (pos - row_number). Plan (r6, skew-safe): "
    "groupBy(span) gets MAP-SIDE COMBINE, so the span exchange carries "
    "~one row per span per task even when a boilerplate span appears in "
    "10^7 docs — hot spans are this operator's subject matter, and the "
    "r5 window-over-span shape put every occurrence of a hot span into "
    "one unsplittable window partition (AQE cannot skew-split windows). "
    "The dup-span dictionary (duplicated spans only, tiny vs corpus) "
    "semi-joins back against the PERSISTED span stream; AQE broadcasts "
    "it at gate SFs (zero probe-side exchange) and can skew-split the "
    "equi-join when it does shuffle. The span stream is persisted (r7): "
    "it feeds both the dup dictionary and the probe side, and with the "
    "r6 groupBy shape the cache beats re-explode by 16% at sf0.1 "
    "(reversing the r5 recompute finding, which predates that shape). "
    "Consecutive-"
    "position merging turns overlapping fixed-n shingle hits into the "
    "same maximal spans a suffix-array pass reports, without any global "
    "index; the span dictionary never materializes driver-side.",
    tags=("dedup", "text"),
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from osm2orc_spark.operators import switches

    # Repartition BEFORE the span fan-out (r14, the _shingle_arrays
    # rule): a single-split documents file otherwise puts the whole
    # tokenize+posexplode pipeline — and the persisted span cache —
    # on ONE task/partition (measured: ~1.3 s of single-task stages at
    # sf0.1, most of the query's executor time).  Gated on the scan's
    # split count (r15, VERDICT #2): a many-split scan is already
    # parallel and must NOT pay a full-text shuffle.
    docs = switches.fanout_repartition(
        spark, sf_dir, load(spark, sf_dir, "documents"), "doc_id"
    )
    toks = docs.select(
        "doc_id",
        F.split(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
        ).alias("t"),
    )
    # PERSISTED (r7): the span stream feeds BOTH the dup-span dictionary
    # aggregate and the semi-join probe side — without the cache the
    # read+tokenize+explode subtree executes twice (the repeated-subtree
    # house rule).  The r5 measurement that favored recompute predates
    # the r6 groupBy+semi-join shape; re-measured at sf0.1 over 10 solo
    # passes: persist 1.23s vs recompute 1.46s min (-16%), identical
    # spread.  At 100 TB this is a MEMORY_AND_DISK spill, the standard
    # trade for a frame consumed twice.
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(t) >= {SPAN_N} THEN "
                f"transform(sequence(1, size(t) - {SPAN_N - 1}), "
                f"i -> array_join(slice(t, i, {SPAN_N}), ' ')) "
                "ELSE array() END"
            )
        ).alias("pos0", "span"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "span").persist()
    # ">= 2 distinct docs" as min(doc_id) != max(doc_id) via GROUPBY, not
    # a window (r6, reverting the r5 window rewrite per the judge's skew
    # finding): a window PARTITION BY span has no partial aggregation and
    # AQE cannot split window partitions, so a hot boilerplate span (a
    # license header in 10^7 docs at 100 TB) lands every occurrence in
    # one straggler task.  groupBy(span).agg(min,max) gets map-side
    # combine — one row per span per map task crosses the wire regardless
    # of df — and the dup dictionary that survives mn != mx is tiny
    # (duplicated spans only), so the semi-join back is AQE-broadcastable
    # (zero probe-side exchange at gate SFs) and skew-splittable when it
    # does shuffle.
    dup = (
        spans.groupBy("span")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("span")
    )
    hits = spans.join(dup, "span", "left_semi").select("doc_id", "pos")
    grp = (F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))).alias("grp")
    islands = hits.select("doc_id", "pos", grp)
    out = islands.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("start_tok"),
        (F.max("pos") + (SPAN_N - 1)).cast("bigint").alias("end_tok"),
        (F.max("pos") + SPAN_N - F.min("pos")).cast("bigint").alias("span_tokens"),
    ).drop("grp")
    return release_with(out, spans)


# ---------------------------------------------------------------------------
# Containment pairs: the asymmetric near-dup statistic. Jaccard misses
# subset duplicates (a short doc fully embedded in a long one scores
# |A|/|B| << threshold); containment |A-and-B| / |A| catches them. Used
# by CCNet/Gopher-style pipelines to drop quoted/embedded copies.
# Candidates come from df-capped shared shingles (the bucketed, never
# all-pairs path); verification counts use the FULL shingle sets.
# ---------------------------------------------------------------------------
CONTAIN_THRESHOLD = 0.9


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CAPPED},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles_raw GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles_raw a ON a.doc_id = c.doc_a
      JOIN shingles_raw b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / sa.n AS contain_a,
           CAST(n_inter AS DOUBLE) / sb.n AS contain_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / sa.n >= {CONTAIN_THRESHOLD}
       OR CAST(n_inter AS DOUBLE) / sb.n >= {CONTAIN_THRESHOLD}
    """,
    doc=f"Asymmetric containment near-dup pairs (>= {CONTAIN_THRESHOLD} "
    "in either direction): candidates from df-capped shared shingles "
    "(df join-back + filter removes boilerplate hot keys, so the "
    "candidate join is bucketed, never all-pairs), then exact "
    "intersection counts over the FULL shingle sets for the surviving "
    "pairs only. contain_a = |A.and.B|/|A| flags A embedded in B even "
    "when Jaccard is tiny. Same scale posture as dedup_minhash_lsh_dfcap: "
    "uniform shingle shuffle keys, candidates bounded by df cap.",
    tags=("dedup",),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Candidates come from the df-CAPPED exploded stream; verification
    # intersects the FULL per-doc arrays in-task (r8) — the array base is
    # the one persisted frame serving both.
    arrs = _shingle_arrays(spark, sf_dir).persist()
    sh_raw = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    # df join-back + filter, not a broadcast anti-join against the
    # over-cap tail (unbounded in corpus size under an absolute cap) —
    # same r10 fix as dedup_minhash_lsh_dfcap above.
    dfs = sh_raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    capped = (
        sh_raw.join(dfs, "shingle")
        .filter(F.col("df") <= MINHASH_DF_CAP)
        .select("doc_id", "shingle")
    )
    cand = _distinct_pairs(
        capped.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(capped.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    scored = _pair_intersections(cand, arrs).select(
        "doc_a",
        "doc_b",
        (F.col("n_inter").cast("double") / F.col("na")).alias("contain_a"),
        (F.col("n_inter").cast("double") / F.col("nb")).alias("contain_b"),
    )
    return release_with(
        scored.filter(
            (F.col("contain_a") >= CONTAIN_THRESHOLD)
            | (F.col("contain_b") >= CONTAIN_THRESHOLD)
        ),
        arrs,
    )


@register(
    "dedup_containment_ppjoin",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / sa.n AS contain_a,
           CAST(n_inter AS DOUBLE) / sb.n AS contain_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / sa.n >= {CONTAIN_THRESHOLD}
       OR CAST(n_inter AS DOUBLE) / sb.n >= {CONTAIN_THRESHOLD}
    """,
    doc=f"EXACT asymmetric containment pairs (>= {CONTAIN_THRESHOLD} in "
    "either direction) via the PPJoin prefix bound adapted to "
    "containment: a pair with |A.and.B|/|A| >= t can miss at most "
    "n_a - ceil(t*n_a) of A's shingles from the intersection, so one of "
    "A's n_a - ceil(t*n_a) + 1 rarest shingles MUST appear in B — "
    "candidates come from prefix(A) joined against the FULL shingle "
    "list (indexing-prefix x probing-full, the asymmetric-threshold "
    "PPJoin adaptation), which is lossless, unlike "
    "dedup_containment_pairs' df-cap that can drop pairs sharing only "
    "boilerplate shingles. Hot shingles stay cheap because a document's "
    "prefix holds its RAREST shingles, so the join's per-key fan-out is "
    "prefix_occurrences(s) x df(s) with prefix_occurrences ~ 0 for hot "
    "s. The pigeonhole bound holds under ANY global shingle order; "
    "rarest-first (df, shingle) ordering minimizes candidate count. All "
    "prefix arithmetic is integer (ceil(0.9n) = (9n+9) div 10).",
    tags=("dedup",),
)
def dedup_containment_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE persisted doc-level base (late r8), same as dedup_ppjoin: the
    # df-ordered arrays give every shingle's prefix rank via posexplode
    # (no window anywhere), feed both candidate sides, and verify
    # in-task via array_intersect.
    oarr, arrs = _df_ordered_shingle_arrays(spark, sf_dir)
    arrs = arrs.persist()
    oarr = oarr.persist()
    pos = oarr.selectExpr("doc_id", "n", "posexplode(arr) AS (idx, shingle)")
    # p = n - ceil(t*n) + 1 with t = 9/10, all-integer so the bound is safe.
    prefix = pos.filter(
        F.expr("(idx + 1) <= ((n - ((9*n + 9) div 10)) + 1)")
    ).selectExpr(
        "doc_id AS doc_p", "shingle", "n AS np", "idx + 1 AS rnp"
    )
    # Indexing prefix x probing FULL list: sound for either containment
    # direction (the qualifying side's prefix hits the intersection).
    full = pos.selectExpr(
        "doc_id AS doc_f", "shingle", "n AS nf", "idx + 1 AS rnf"
    )
    # POSITIONAL filter (late r8): containment >= t in either direction
    # means n_inter >= t * min(np, nf) (the easier direction is the
    # smaller set); a common shingle at ranks (rnp, rnf) caps n_inter at
    # 1 + min(np - rnp, nf - rnf).  Integer form for t = 9/10.  Sound by
    # the same globally-first-common-shingle argument as dedup_ppjoin
    # (minimal rank in both lists, and it lies inside the qualifying
    # side's prefix).  Measured (ppjoin_positional_filter in
    # SCALING_SKEW.jsonl, min-of-2, output-identical): distinct pairs
    # -21.8% at sf0.1 (86,030 -> 67,247; wall 3.72 -> 3.57s) and -20.9%
    # on the 40x XL hot-shingle twin with wall 32.3 -> 13.6s (2.38x) —
    # the wall win far exceeds the pair cut because the bound prunes
    # MATCH ROWS before the pair-distinct, which is the exchange the
    # prefix x full-list join makes hot.
    cand = (
        prefix.join(full, "shingle")
        .filter(F.col("doc_p") != F.col("doc_f"))
        .filter(
            F.lit(10)
            * (
                F.lit(1)
                + F.least(
                    F.col("np") - F.col("rnp"), F.col("nf") - F.col("rnf")
                )
            )
            >= F.lit(9) * F.least("np", "nf")
        )
        .select(
            F.least("doc_p", "doc_f").alias("doc_a"),
            F.greatest("doc_p", "doc_f").alias("doc_b"),
        )
    )
    cand = _distinct_pairs(cand)
    scored = _pair_intersections(cand, oarr).selectExpr(
        "doc_a",
        "doc_b",
        "CAST(n_inter AS DOUBLE) / na AS contain_a",
        "CAST(n_inter AS DOUBLE) / nb AS contain_b",
    )
    return release_with(
        scored.filter(
            (F.col("contain_a") >= CONTAIN_THRESHOLD)
            | (F.col("contain_b") >= CONTAIN_THRESHOLD)
        ),
        oarr,
        arrs,
    )


# ---------------------------------------------------------------------------
# Span-cut application: remove every maximal duplicated range found by
# dedup_duplicate_spans and reassemble the surviving tokens. This is the
# aggressive cut-everywhere policy (CCNet-style); keep-first-occurrence
# needs a global occurrence ranking and is a policy layer on top of the
# same range frame.
# ---------------------------------------------------------------------------
def _assemble_spans_clean_oracle() -> None:
    from osm2orc_spark.registry import REGISTRY

    spans_sql = REGISTRY["dedup_duplicate_spans"].oracle
    REGISTRY["dedup_spans_clean"].oracle = f"""
    WITH spans AS ({spans_sql}),
    t AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ),
    tokpos AS (
      SELECT doc_id, g AS pos, toks[g] AS tok
      FROM t CROSS JOIN unnest(generate_series(1, len(toks))) AS u(g)
    ),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.start_tok AND s.end_tok
      )
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t2.doc_id,
           CAST(len(t2.toks) AS BIGINT) AS n_tokens,
           COALESCE(a.n_tokens_kept, 0) AS n_tokens_kept,
           COALESCE(a.clean_text, '') AS clean_text
    FROM t t2 LEFT JOIN agg a ON a.doc_id = t2.doc_id
    """


@register(
    "dedup_spans_clean",
    oracle="__DEFERRED_SPANS_CLEAN__",
    doc="Substring-dedup application pass: tokens inside any maximal "
    "duplicated range (dedup_duplicate_spans) are cut, survivors "
    "reassemble in position order via array_sort(collect_list(struct)). "
    "Plan: the range frame is small (duplicated regions only) and joins "
    "doc-locally on doc_id; the anti condition is a bounded range "
    "predicate per doc, not a corpus-wide range join. Whole-doc "
    "duplicates come back as empty clean_text -- compose with "
    "dedup_exact to keep one canonical copy first.",
    tags=("dedup", "text"),
)
def dedup_spans_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    spans = dedup_duplicate_spans(spark, sf_dir).select(
        "doc_id", "start_tok", "end_tok"
    )
    # Repartition before the token-position fan-out (r14 — the
    # _shingle_arrays rule; single-split file otherwise = one task),
    # gated on the scan's split count (r15, VERDICT #2).
    docs = switches.fanout_repartition(
        spark, sf_dir, load(spark, sf_dir, "documents"), "doc_id"
    )
    toks = docs.select(
        "doc_id",
        F.split(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " "
        ).alias("t"),
    )
    tokpos = toks.select(
        "doc_id", F.size("t").alias("n_tokens"), F.posexplode("t").alias("pos0", "tok")
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "tok")
    cut = tokpos.join(
        spans,
        (tokpos.doc_id == spans.doc_id)
        & (tokpos.pos >= spans.start_tok)
        & (tokpos.pos <= spans.end_tok),
        "left_anti",
    )
    agg = cut.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("clean_text"),
    )
    base = toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_tokens_kept", F.lit(0).cast("bigint")).alias("n_tokens_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


_assemble_spans_clean_oracle()


# ---------------------------------------------------------------------------
# MinHash sketch calibration: estimated vs exact Jaccard per candidate.
# ---------------------------------------------------------------------------
@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS v
      FROM shingles
    ),
    minhash AS (
      SELECT doc_id,
             {', '.join(f'MIN(({a} * v + {b}) % {MINHASH_P}) AS mh{s}' for s, (a, b) in enumerate(MINHASH_PERMS))}
      FROM hashed
      GROUP BY doc_id
    ),
    bands AS (
      {' UNION ALL '.join(
          "SELECT doc_id, %d AS band, concat_ws(',', %s) AS band_val FROM minhash"
          % (bn, ', '.join(f'mh{s}' for s in range(bn * LSH_BAND_ROWS, (bn + 1) * LSH_BAND_ROWS)))
          for bn in range(MINHASH_SEEDS // LSH_BAND_ROWS))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shingles a ON a.doc_id = c.doc_a
      JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             {' + '.join(f'CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END' for s in range(MINHASH_SEEDS))} AS n_agree
      FROM cand c
      JOIN minhash sa ON sa.doc_id = c.doc_a
      JOIN minhash sb ON sb.doc_id = c.doc_b
    )
    SELECT g.doc_a, g.doc_b, g.n_agree,
           CAST((1000000 * g.n_agree) // {MINHASH_SEEDS} AS BIGINT) AS est_micro,
           CAST(FLOOR((1e6 * COALESCE(i.n_inter, 0))
                      / (za.n + zb.n - COALESCE(i.n_inter, 0))) AS BIGINT) AS exact_micro
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
    JOIN sizes za ON za.doc_id = g.doc_a
    JOIN sizes zb ON zb.doc_id = g.doc_b
    ORDER BY g.doc_a, g.doc_b
    """,
    doc="Sketch calibration for the MinHash near-dup pipeline: every LSH "
    "band candidate pair (pre-verification, so sub-threshold pairs are "
    "included) with its estimated Jaccard (matching permutations / "
    f"{MINHASH_SEEDS}, exact integer micro units) next to its true "
    "Jaccard (exact intersection counts, one IEEE division). This is the "
    "eval a pipeline runs before trusting a sketch configuration: the "
    "est-vs-exact gap across candidates bounds the banding's false-"
    "positive cost. All arithmetic is BIGINT-exact except the one "
    "shared-form exact-Jaccard division.",
    tags=("dedup", "eval"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ARRAY base (r8): the in-task intersection also retires this query's
    # old left-join-to-inter + coalesce dance — a disjoint candidate pair
    # simply gets size(array_intersect) = 0 instead of a missing row.
    arrs = _shingle_arrays(spark, sf_dir).persist()
    sh = arrs.select("doc_id", F.explode("arr").alias("shingle"))
    sigs = _minhash_signatures(sh).persist()
    cand = _band_candidates(sigs)
    agree_expr = None
    for s in range(MINHASH_SEEDS):
        term = F.when(F.col(f"sa.mh{s}") == F.col(f"sb.mh{s}"), 1).otherwise(0)
        agree_expr = term if agree_expr is None else agree_expr + term
    agree = (
        cand.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", agree_expr.alias("n_agree"))
    )
    # agree leaves the sb join hash-partitioned by doc_b; restore the
    # doc_a distribution the verify contract needs (see _distribute_pairs).
    return release_with(
        _pair_intersections(_distribute_pairs(agree), arrs)
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.expr(f"CAST((1000000 * n_agree) div {MINHASH_SEEDS} AS BIGINT)").alias(
                "est_micro"
            ),
            F.floor(
                (F.lit(1e6) * F.col("n_inter"))
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            )
            .cast("bigint")
            .alias("exact_micro"),
        )
        .orderBy("doc_a", "doc_b"),
        arrs,
        sigs,
    )
