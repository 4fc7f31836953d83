"""Corpus-curation operators: the end-to-end steps a training-data
pipeline runs AFTER dedup/quality/similarity primitives exist.

- canonical-doc selection per near-dup cluster  -> curation_canonical_docs
- benchmark decontamination (n-gram overlap)    -> curation_decontaminate
- deterministic stratified sampling             -> curation_stratified_sample
- sequence packing into token-budget bins       -> curation_pack_sequences

Each composes the registered primitives (dedup components, quality
scores, split assignment) rather than re-deriving them, and each keeps
the determinism rules of the registry docstring: md5-only hashing,
integer arithmetic before any double, total-order tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm2orc_spark.operators.cache import release_with, safe_unpersist
from osm2orc_spark.operators.dedup import (
    _DUCK_SHINGLES,
    _shingles,
    dedup_components,
)
from osm2orc_spark.operators.similarity import NEAR_DUP_COS
from osm2orc_spark.operators.text import (
    FEAT_BUCKETS,
    _ngrams_uni_bi,
    _toks as _text_toks,
    feature_bucket,
    text_quality_scores,
)
from osm2orc_spark.registry import REGISTRY, register
from osm2orc_spark.tables import load


# ---------------------------------------------------------------------------
# Canonical-document selection: one survivor per near-dup cluster.
# ---------------------------------------------------------------------------
@register(
    "curation_canonical_docs",
    oracle=None,  # assembled below from the components + quality oracles
    doc="Keep exactly one document per near-duplicate cluster: the highest "
    "quality_score, doc_id as the total-order tie-break. This is the "
    "'dedup with a preference' shape every corpus build ends with — "
    "components give the groups, quality gives the ranking, ONE "
    "map-side-combinable max(struct(quality, -doc_id)) aggregate picks "
    "survivors. A row_number window partitioned by component would put "
    "a whole cluster through one task — and clusters are NOT small at "
    "100 TB: a boilerplate/template cluster can hold 10^6+ members, the "
    "same hot-key argument that retired the shingle-df and span windows. "
    "The aggregate ships ~one row per component per map task at any "
    "cluster size and its final join-free projection reads the winner "
    "out of the struct.",
    tags=("curation", "dedup", "iterative"),
)
def curation_canonical_docs(
    spark: SparkSession, sf_dir: str, *, quality: DataFrame | None = None
) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    # ``quality`` lets a composing pipeline (curation_training_mix) share
    # ONE materialized scorer frame across consumers — Catalyst does not
    # dedup identical scan+tokenize subtrees that appear under different
    # joins, so without it the documents table is tokenized once per use.
    if quality is None:
        quality = text_quality_scores(spark, sf_dir)
    quality = quality.select("doc_id", "quality_score")
    # argmax-per-group via max(struct): struct comparison is field-by-
    # field, so max(struct(quality_score, -doc_id)) selects the highest
    # quality with the LOWEST doc_id breaking ties — exactly the
    # ROW_NUMBER(ORDER BY quality_score DESC, doc_id) = 1 row of the
    # oracle. Unlike the window this aggregates with a partial phase
    # (map-side combine), so a 10^7-member boilerplate cluster ships one
    # row per task instead of its whole membership through one sort.
    best = (
        comp.join(quality, "doc_id")
        .groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("quality_score"), (-F.col("doc_id")).alias("neg_doc")
                )
            ).alias("best")
        )
    )
    return best.select(
        "component",
        (-F.col("best.neg_doc")).alias("doc_id"),
        F.col("best.quality_score").alias("quality_score"),
    )


def _assemble_canonical_oracle() -> None:
    """Wraps the (already assembled) components oracle and the quality
    oracle as CTE bodies — the oracle stays the exact serial twin of
    whatever those primitives compute."""
    comp_sql = REGISTRY["dedup_components"].oracle
    quality_sql = REGISTRY["text_quality_scores"].oracle
    REGISTRY["curation_canonical_docs"].oracle = f"""
    WITH comp AS ({comp_sql}),
    q AS ({quality_sql}),
    ranked AS (
      SELECT c.component, c.doc_id, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.quality_score DESC, c.doc_id) AS rn
      FROM comp c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT component, doc_id, quality_score FROM ranked WHERE rn = 1
    """


_assemble_canonical_oracle()


# ---------------------------------------------------------------------------
# Benchmark decontamination: train docs sharing n-grams with the test split.
# ---------------------------------------------------------------------------
_DUCK_SPLIT = """
  split_assign AS (
    SELECT doc_id,
           CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
                THEN 'train'
                WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
  )
"""


# Per-shingle document-frequency cap on the RIGHT (union-counted) side
# above which a shingle is treated as HOT by the factored spelling: cold
# shingles bound the doc x doc fan-out at DECON_HOT_DF rows per left
# shingle row (linear mass), hot shingles take the combination-factored
# union path that never enumerates their pairs.  Any value is EXACT (the
# split is hot/cold bookkeeping, not an approximation); 256 keeps the
# hot set small (|HOT| <= test_shingle_rows / 256) while leaving the
# long tail on the cheap single-join path.
DECON_HOT_DF = 256


def _split_tagged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) rows tagged with the registered
    md5-bucket train/val/test split (the _DUCK_SPLIT rule)."""
    sh = _shingles(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return sh.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )


def _decon_flat_pairs(left: DataFrame, right: DataFrame) -> int:
    """Exact row count of the flat shingle equi-join,
    Sum_g df_left(g) * df_right(g): two per-shingle count aggregates and
    a one-row sum — linear in the shingle streams, no doc x doc fan-out.
    This is the quantity the factored spelling avoids materializing, so
    it is the regime discriminator (switches.DECON_FLAT_PAIRS_MAX)."""
    a = left.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfa"))
    b = right.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfb"))
    row = (
        a.join(b, "shingle")
        .agg(F.sum(F.col("dfa") * F.col("dfb")).alias("m"))
        .first()
    )
    return int(row["m"] or 0)


def _union_hit_counts(
    left: DataFrame, right: DataFrame, *, hot_df: int = DECON_HOT_DF
) -> DataFrame:
    """Exact per-left-doc count of DISTINCT right-side docs sharing at
    least one shingle — ``(doc_id, n_hit)``, one row per left doc with
    n_hit >= 1 — WITHOUT the flat doc x doc pair fan-out on hot shingles.

    Inputs: ``left`` = distinct (doc_id, shingle) rows, ``right`` =
    distinct (rdoc_id, shingle) rows (distinctness per (doc, shingle) is
    what `_shingle_arrays`' array_distinct guarantees).

    Decomposition (exact for ANY hot_df — the split is bookkeeping):
    n_hit(d) = |U_{g in d} T(g)| where T(g) = right docs containing g.

    - HOT shingles (right df > hot_df): group left docs by their
      hot-shingle COMBINATION (sorted set, md5-keyed — the registry's
      md5-only hashing rule, same collision posture as dedup_exact's
      content_hash groupBy) and compute each DISTINCT combination's
      right-doc union ONCE: core(c) = distinct (combo, rdoc) from
      exploding the combo against the right postings.  Join mass is
      Sum_hot (#combos containing g) * df_right(g), and since every
      combination is carried by >= 1 left doc, #combos containing g <=
      df_left(g): the factored hot mass NEVER exceeds the flat join's
      hot mass, and collapses to ONE union per boilerplate family in
      the regime that kills the flat plan (all docs sharing a header
      => one combination, Theta(n) total).
    - COLD shingles (df <= hot_df): plain equi-join; fan-out per left
      row is bounded by hot_df, so cold mass <= hot_df * |left| rows —
      linear with a constant cap, and no single join key can straggle.
    - Stitch: n_hit(d) = |core(combo(d))| + |coldhits(d) \\ core| via a
      left-anti join of the distinct cold (doc, rdoc) pairs against the
      core membership table (docs with no hot shingle have NULL
      combo_id, which matches nothing, so the anti-join keeps all their
      cold hits — the NULL-key semantics the hybrid window router
      already relies on).
    """
    rdf = right.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_r")).persist()
    hot = rdf.filter(F.col("df_r") > hot_df).select("shingle")
    combos = (
        left.join(hot, "shingle")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("shingle")).alias("combo"))
        .withColumn("combo_id", F.md5(F.concat_ws("\x1f", "combo")))
    )
    cm = combos.select("doc_id", "combo_id").persist()
    core = (
        combos.select("combo_id", "combo")
        .dropDuplicates(["combo_id"])
        .select("combo_id", F.explode("combo").alias("shingle"))
        .join(right, "shingle")
        .select("combo_id", "rdoc_id")
        .distinct()
        .persist()
    )
    core_n = core.groupBy("combo_id").agg(F.count(F.lit(1)).alias("core_n"))
    cold = rdf.filter(F.col("df_r") <= hot_df).select("shingle")
    coldhit = (
        left.join(right.join(cold, "shingle"), "shingle")
        .select("doc_id", "rdoc_id")
        .distinct()
    )
    extra = (
        coldhit.join(cm, "doc_id", "left")
        .join(core, ["combo_id", "rdoc_id"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_extra"))
    )
    hot_hits = cm.join(core_n, "combo_id").select("doc_id", "core_n")
    out = hot_hits.join(extra, "doc_id", "full").select(
        "doc_id",
        (F.coalesce("core_n", F.lit(0)) + F.coalesce("n_extra", F.lit(0)))
        .cast("bigint")
        .alias("n_hit"),
    )
    return release_with(out, rdf, cm, core)


def _decontaminate_factored(train: DataFrame, test: DataFrame) -> DataFrame:
    """Factored spelling of curation_decontaminate — output-identical to
    the flat join (property-tested + forced-switch identity)."""
    train = train.persist()
    test = test.persist()
    te_sh = test.select("shingle").distinct()
    # Train rows are distinct per (doc, shingle) and te_sh has one row
    # per shingle, so the inner join preserves distinctness and a plain
    # count equals the flat plan's countDistinct(shingle).
    n_shared = (
        train.join(te_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
    )
    hits = _union_hit_counts(
        train, test.select(F.col("test_doc_id").alias("rdoc_id"), "shingle")
    )
    # Row sets are equal (>=1 shared shingle <=> >=1 test doc hit, since
    # every test shingle belongs to >=1 test doc): inner join.
    out = n_shared.join(hits, "doc_id").select(
        "doc_id", "n_shared_shingles", F.col("n_hit").alias("n_test_docs_hit")
    )
    return release_with(out, train, test)


@register(
    "curation_decontaminate",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    {_DUCK_SPLIT}
    SELECT tr.doc_id,
           CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(DISTINCT te.doc_id) AS BIGINT) AS n_test_docs_hit
    FROM (SELECT s.doc_id, s.shingle FROM shingles s
          JOIN split_assign a ON a.doc_id = s.doc_id AND a.split = 'train') tr
    JOIN (SELECT s.doc_id, s.shingle FROM shingles s
          JOIN split_assign a ON a.doc_id = s.doc_id AND a.split = 'test') te
      ON tr.shingle = te.shingle
    GROUP BY tr.doc_id
    """,
    doc="Benchmark decontamination: training documents that share at least "
    "one word 3-shingle with any test-split document, with how many "
    "shingles and test docs they hit. The split is the registered "
    "md5-bucket rule, so membership needs no side table. Shape: shingle "
    "equi-join train-side x test-side, then one aggregation — UNTIL the "
    "memoized flat-mass probe (Sum_g df_train * df_test, the join's "
    "exact row count) exceeds switches.DECON_FLAT_PAIRS_MAX: a "
    "boilerplate shingle shared by most documents makes the flat join "
    "Theta(n^2) through ONE unsplittable key, so above the threshold "
    "the query routes to the combination-factored union counter "
    "(_union_hit_counts), which is output-identical, never carries more "
    "join mass, and is near-linear in the boilerplate regime (r10 "
    "scale-killer #7 — measured twins in SCALING_SKEW.jsonl "
    "decon_factored_xl).",
    tags=("curation", "dedup"),
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    tagged = _split_tagged_shingles(spark, sf_dir)
    train = tagged.filter(F.col("split") == "train").select("doc_id", "shingle")
    test = (
        tagged.filter(F.col("split") == "test")
        .select(F.col("doc_id").alias("test_doc_id"), "shingle")
    )
    flat = switches.cached_probe(
        sf_dir, "decon_flat_pairs", lambda: _decon_flat_pairs(train, test)
    )
    if flat > switches.DECON_FLAT_PAIRS_MAX:
        return _decontaminate_factored(train, test)
    return (
        train.join(test, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("test_doc_id").alias("n_test_docs_hit"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling.
# ---------------------------------------------------------------------------
SAMPLE_RATES: dict[str, int] = {"en": 60, "zh": 30}  # percent; others 20
DEFAULT_RATE = 20


@register(
    "curation_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(concat('0x', substr(md5(concat('smpl:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100
          < CASE lang WHEN 'en' THEN {SAMPLE_RATES["en"]}
                      WHEN 'zh' THEN {SAMPLE_RATES["zh"]}
                      ELSE {DEFAULT_RATE} END
    """,
    doc="Stratified downsampling with per-language rates (en 60%, zh 30%, "
    "others 20%) as a pure hash predicate on a salted doc id — no RNG "
    "state, no sampling operator, so membership is reproducible across "
    "engines, re-runs, and partial re-reads. The salt ('smpl:') makes the "
    "sample independent of the train/val/test bucket hash. Zero-shuffle "
    "narrow filter fused into the scan stage's codegen (an md5 expression "
    "is not a parquet-pushable predicate, but only doc_id and lang are "
    "read).",
    tags=("curation", "split"),
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", SAMPLE_RATES["en"])
        .when(F.col("lang") == "zh", SAMPLE_RATES["zh"])
        .otherwise(DEFAULT_RATE)
    )
    return docs.filter(bucket < rate).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Sequence packing: fill fixed token-budget bins with consecutive docs.
# ---------------------------------------------------------------------------
PACK_BUDGET = 2048
PACK_SHARDS = 32


@register(
    "curation_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             CAST(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           shard * 1000000 + CAST(FLOOR(
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
             / {PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM t
    """,
    doc=f"Sequence packing for training: consecutive documents fill "
    f"{PACK_BUDGET}-token bins (bin = exclusive running token count / "
    "budget — the streaming-fill discipline, so a doc straddling the "
    "boundary starts in the earlier bin). Packing is per-shard (doc_id % "
    f"{PACK_SHARDS}) with bin ids namespaced by shard: a single global "
    "running sum would serialize the window on one task, while sharded "
    "windows parallelize and stay deterministic. The shard count maps to "
    "writer parallelism at 100 TB — but a FIXED shard count still sorts "
    "rows/32 per window task (and an id-stride corpus, doc_id all equal "
    "mod 32, serializes the whole table through ONE task), so above the "
    "window family's per-key bar the running sum routes through the "
    "doc_id-range split-and-stitch (_pack_sequences_chunked, r10 "
    "scale-killer #8): in-chunk exclusive sums + a bounded per-chunk "
    "summary prefix, output-identical (property-tested + forced-switch "
    "identity), every window partition bounded by the chunk width.",
    tags=("curation",),
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    hot = switches.cached_probe(
        sf_dir,
        "pack_max_shard_rows",
        lambda: docs.groupBy("shard").count().agg(F.max("count")).first()[0] or 0,
    )
    if hot > switches.HOT_KEY_ROWS:
        return _pack_sequences_chunked(docs)
    return _pack_sequences_flat(docs)


def _pack_bin_id(running_before):
    return (
        F.col("shard") * 1000000
        + F.floor(running_before.cast("double") / PACK_BUDGET).cast("bigint")
    ).alias("bin_id")


def _pack_sequences_flat(docs: DataFrame) -> DataFrame:
    running_before = F.coalesce(
        F.sum("n_tokens").over(
            Window.partitionBy("shard")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return docs.select("doc_id", "shard", "n_tokens", _pack_bin_id(running_before))


# doc_id-range chunk width for the split-and-stitch running sum: one
# window partition is at most PACK_CHUNK_DOCS/1 rows (PACK_CHUNK_DOCS /
# PACK_SHARDS when ids are uniform mod the shard count), and the
# per-chunk summary window carries at most ceil(id_span /
# PACK_CHUNK_DOCS) rows per shard.  Same residual as the time-chunked
# event family (operators/chunked.py): chunking bounds per-task rows by
# id DENSITY, not count — an adversarially sparse id space concentrates
# the summary, not the data.
PACK_CHUNK_DOCS = 1 << 20


def _pack_sequences_chunked(docs: DataFrame) -> DataFrame:
    """Split-and-stitch spelling of the per-shard exclusive running sum
    (r10 scale-killer #8) — output-identical to _pack_sequences_flat for
    every id/NULL pattern (property-tested; forced-switch identity at
    the gate SF).

    Exactness: within a shard, chunk = floor(doc_id / PACK_CHUNK_DOCS)
    is monotone in doc_id (exact in double below 2^53 — the
    sessionize_events_chunked argument), so chunk order == stream order
    and the exclusive prefix of any row is (all rows of prior chunks) +
    (in-chunk exclusive prefix).  NULL n_tokens: the flat spelling is
    COALESCE(SUM(n_tokens) [ignores NULLs], 0), which equals summing
    coalesce(n_tokens, 0) everywhere — so no running non-null count is
    needed; the outer COALESCE already collapses
    the all-NULL-prefix case to 0."""
    d = docs.withColumn(
        "_chunk", F.floor(F.col("doc_id") / F.lit(PACK_CHUNK_DOCS)).cast("bigint")
    )
    wl = (
        Window.partitionBy("shard", "_chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_before = F.coalesce(
        F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).over(wl), F.lit(0)
    )
    summ = d.groupBy("shard", "_chunk").agg(
        F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).alias("_tot")
    )
    wc = (
        Window.partitionBy("shard")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = summ.select(
        "shard", "_chunk", F.coalesce(F.sum("_tot").over(wc), F.lit(0)).alias("_off")
    )
    return (
        d.withColumn("_in_before", in_before)
        .join(offs, ["shard", "_chunk"])
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            _pack_bin_id(F.col("_in_before") + F.col("_off")),
        )
    )


# ---------------------------------------------------------------------------
# Per-source document cap: bound over-represented domains.
# ---------------------------------------------------------------------------
SOURCE_CAP = 40

def _rank_cap(
    df: DataFrame, group_col: str, order_cols, cap, cap_bound: int | None = None
) -> DataFrame:
    """Exact 'keep the first ``cap`` rows per group under ``order_cols``'
    with a BOUNDED hot partition: one row_number window whose rank
    filter always carries a LITERAL conjunct, so Spark's
    InferWindowGroupLimit inserts a partial WindowGroupLimit below the
    exchange — each map task forwards at most ``cap_bound`` rows PER
    GROUP (the window's analogue of map-side combine), and the final
    window partition is bounded by cap_bound * upstream-tasks instead
    of the group's data size. Without the literal (the quota-column
    spelling) no pruning fires and a hot source/lang sorts its entire
    occurrence list in one unsplittable task.

    ``cap`` is an int (constant cap) or a Column (per-group quota
    already joined onto ``df``); a Column cap requires ``cap_bound``, a
    literal upper bound that holds for every group (e.g. the global mix
    target — quota = TARGET*q DIV sum_q <= TARGET). The measured
    alternative — a salted two-phase rank that also splits the residual
    cap_bound*tasks concentration — costs 1.07-1.40x this shape at every
    locally measurable hot size (the ``rank_cap_crossover`` records in
    SCALING_SKEW.jsonl), so this shape is the keeper until a real
    cluster shows the residual matters.
    """
    if isinstance(cap, int):
        cap_col = F.lit(cap)
        cap_bound = cap
    else:
        cap_col = cap
        assert cap_bound is not None, "Column cap requires a literal cap_bound"
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).filter(
        # The literal conjunct is what InferWindowGroupLimit keys on;
        # the column conjunct applies the real per-group quota.
        (F.col("rn") <= F.lit(cap_bound)) & (F.col("rn") <= cap_col)
    )


@register(
    "curation_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(concat('cap:', CAST(doc_id AS VARCHAR))), doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= {SOURCE_CAP}
    """,
    doc=f"Per-source cap: keep at most {SOURCE_CAP} documents per source, "
    "chosen by salted-hash order (md5('cap:'||doc_id), doc_id tie-break) "
    "— a uniform random-but-reproducible subset per domain, the standard "
    "guard against over-represented sources in a training mix. The "
    "literal cap makes InferWindowGroupLimit insert a partial "
    "WindowGroupLimit below the exchange (plan-pinned): each map task "
    f"forwards at most {SOURCE_CAP} rows per source, so a hot domain's "
    "window partition is bounded by cap*tasks, never by the domain's "
    "document count — the window analogue of map-side combine.",
    tags=("curation", "split"),
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    order_cols = (
        F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    return _rank_cap(
        docs.select("doc_id", "source"), "source", order_cols, SOURCE_CAP
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Composite keep/drop filter: the C4/Gopher-style rule pipeline.
# ---------------------------------------------------------------------------
MIN_TOKENS = 20
MIN_QUALITY = 0.45
MAX_DUP_BIGRAM = 0.2


def _doc_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE documents scan + tokenize computing BOTH the quality and the
    repetition metric sets (r14, guide §2.3 'project before you pay the
    pass twice'): the composed consumers (quality filter, training mix,
    mix report) previously evaluated two separate scan+tokenize subtrees
    and joined them on doc_id — this frame carries the identical columns
    off a single pass, with dup_bigram_ratio NULL for docs under 2
    tokens exactly as the composed LEFT join yields (F.when guard; the
    registered primitives and their oracles are untouched)."""
    from osm2orc_spark.operators.text import (
        _grams_col,
        _quality_cols,
        _repetition_cols,
        _toks,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", _toks().alias("t")
    )
    with_grams = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        "t",
        F.when(F.size("t") >= 2, _grams_col("t")).alias("grams"),
    )
    rep = _repetition_cols("grams")
    guard = [F.when(F.col("grams").isNotNull(), c).alias(n) for c, n in
             zip(rep, ("n_bigrams", "n_unique_bigrams", "dup_bigram_ratio", "flagged"))]
    return with_grams.select("doc_id", "lang", *_quality_cols(), *guard)



@register(
    "curation_quality_filter",
    oracle=None,  # assembled below from the quality + repetition oracles
    doc="Composite keep/drop decision per document, C4/Gopher style: "
    f"drop if under {MIN_TOKENS} tokens, then if quality_score < "
    f"{MIN_QUALITY}, then if the duplicate-bigram ratio exceeds "
    f"{MAX_DUP_BIGRAM}; the first failing rule is recorded as the "
    "reason. Composes the registered quality and repetition scorers "
    "(same oracles, same arithmetic) with one doc_id join — the "
    "filter-pipeline shape every corpus build runs before tokenization.",
    tags=("curation", "text"),
)
def curation_quality_filter(
    spark: SparkSession, sf_dir: str, *, quality: DataFrame | None = None
) -> DataFrame:
    from osm2orc_spark.operators.text import text_repetition_scores

    if quality is None:
        # One-scan spelling (r14): quality + repetition columns off a
        # single tokenize — no join at all.
        j = _doc_quality_repetition(spark, sf_dir).select(
            "doc_id", "n_tokens", "quality_score", "dup_bigram_ratio"
        )
    elif "dup_bigram_ratio" in quality.columns:
        # A composing pipeline shared the FUSED frame — already joined.
        j = quality.select(
            "doc_id", "n_tokens", "quality_score", "dup_bigram_ratio"
        )
    else:
        q = quality.select("doc_id", "n_tokens", "quality_score")
        r = text_repetition_scores(spark, sf_dir).select(
            "doc_id", "dup_bigram_ratio"
        )
        j = q.join(r, "doc_id", "left")
    reason = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("quality_score") < MIN_QUALITY, "low_quality")
        .when(F.col("dup_bigram_ratio") > MAX_DUP_BIGRAM, "repetitive")
        .otherwise("keep")
    )
    return j.select(
        "doc_id", reason.alias("reason"), (reason == "keep").alias("keep")
    )


def _assemble_quality_filter_oracle() -> None:
    quality_sql = REGISTRY["text_quality_scores"].oracle
    repetition_sql = REGISTRY["text_repetition_scores"].oracle
    REGISTRY["curation_quality_filter"].oracle = f"""
    WITH q AS ({quality_sql}),
    r AS ({repetition_sql}),
    j AS (
      SELECT q.doc_id, q.n_tokens, q.quality_score, r.dup_bigram_ratio
      FROM q LEFT JOIN r ON r.doc_id = q.doc_id
    ),
    decided AS (
      SELECT doc_id,
             CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
                  WHEN quality_score < {MIN_QUALITY} THEN 'low_quality'
                  WHEN dup_bigram_ratio > {MAX_DUP_BIGRAM} THEN 'repetitive'
                  ELSE 'keep' END AS reason
      FROM j
    )
    SELECT doc_id, reason, reason = 'keep' AS keep FROM decided
    """


_assemble_quality_filter_oracle()


# ---------------------------------------------------------------------------
# Temperature-resampled language mixture (multilingual-LM style).
# ---------------------------------------------------------------------------
MIX_TARGET = 200  # total documents in the resampled mix
MIX_QUANT = 1000000  # sqrt weights quantized to BIGINT at 1e-6


@register(
    "curation_temperature_mix",
    oracle=f"""
    WITH w AS (
      SELECT lang, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * {MIX_QUANT}) AS BIGINT) AS q
      FROM documents GROUP BY lang
    ),
    quota AS (
      SELECT lang, CAST(({MIX_TARGET} * q) // (SELECT SUM(q) FROM w) AS BIGINT) AS quota
      FROM w
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, t.quota,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), d.doc_id) AS rn
      FROM documents d JOIN quota t USING (lang)
    )
    SELECT doc_id, lang, quota FROM ranked WHERE rn <= quota
    """,
    doc=f"Temperature-resampled multilingual mix (alpha = 0.5): per-language "
    f"quotas proportional to sqrt(n_docs), totaling ~{MIX_TARGET} docs, so "
    "low-resource languages are upsampled relative to their corpus share "
    "— the standard mixture rebalance for multilingual LM training. "
    "Determinism: sqrt is IEEE-correctly-rounded (engine-exact, unlike "
    "pow/ln), weights are quantized floor(sqrt(n)*1e6) to BIGINT and "
    "quotas computed with integer division; membership is salted-md5 "
    "rank under each quota. Scale shape: the per-language weight/quota "
    "table is tiny -> broadcast to the selection join; lang is the "
    "worst kind of window key — a handful of values each holding a "
    "constant corpus fraction — so the rank filter carries a literal "
    "MIX_TARGET conjunct (quota <= TARGET by construction): "
    "InferWindowGroupLimit then prunes to the top-TARGET per lang per "
    "MAP TASK before the exchange, where the bare quota-column filter "
    "would sort the whole majority language in one unsplittable task.",
    tags=("curation", "split"),
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = docs.groupBy("lang").agg(
        F.floor(F.sqrt(F.count(F.lit(1)).cast("double")) * MIX_QUANT)
        .cast("bigint")
        .alias("q")
    )
    quota = (
        w.crossJoin(F.broadcast(w.agg(F.sum("q").alias("sum_q"))))
        .select("lang", F.expr(f"CAST(({MIX_TARGET} * q) DIV sum_q AS BIGINT)").alias("quota"))
    )
    order_cols = (
        F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.asc("doc_id"),
    )
    return _rank_cap(
        docs.select("doc_id", "lang").join(F.broadcast(quota), "lang"),
        "lang",
        order_cols,
        F.col("quota"),
        # quota = TARGET*q DIV sum_q <= TARGET, so the global target is a
        # sound literal bound that turns on map-side WindowGroupLimit.
        cap_bound=MIX_TARGET,
    ).select("doc_id", "lang", "quota")


# ---------------------------------------------------------------------------
# End-to-end training-mix pipeline: quality gate -> near-dup canonical
# -> temperature-resampled mixture. The flagship composition.
# ---------------------------------------------------------------------------
@register(
    "curation_training_mix",
    oracle=None,  # assembled below from the quality-filter + canonical oracles
    doc="The full corpus-build pipeline as ONE declarative plan: (1) drop "
    "documents failing the composite quality gate, (2) drop near-dup "
    "cluster members that are not their cluster's canonical doc, (3) "
    "temperature-resample the survivors per language (alpha=0.5, "
    "sqrt-quota arithmetic identical to curation_temperature_mix but "
    "computed over the SURVIVING corpus, salt 'tmix:'). Every stage "
    "composes the registered primitives — same oracles, same arithmetic "
    "— so the composed DuckDB oracle is assembled from their SQL "
    "verbatim. Catalyst sees one tree: the two eliminations are "
    "left-semi joins it can reorder, the canonical pick is a map-side-"
    "combinable max(struct) aggregate, and the final quota rank carries "
    "the literal MIX_TARGET conjunct so WindowGroupLimit prunes it "
    "map-side over the surviving (small) corpus.",
    tags=("curation", "dedup", "split", "iterative"),
)
def curation_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE materialized quality+repetition frame (r14: the fused one-scan
    # spelling) feeds the keep-gate AND the canonical ranking: without
    # sharing, the documents scan+tokenize subtree executes once per
    # consumer (Catalyst plans identical subtrees independently), and
    # before the fusion the keep-gate additionally joined a SECOND
    # tokenize pass for the repetition columns.
    quality = _doc_quality_repetition(spark, sf_dir).persist()
    surv = None
    # Everything until release_with() attaches the caches to the RESULT;
    # if plan construction raises before that, unpersist here (r15,
    # ADVICE): otherwise the persisted frames — and the warm count job's
    # cache blocks — leak for the rest of the session.
    try:
        keep = (
            curation_quality_filter(spark, sf_dir, quality=quality)
            .filter("keep")
            .select("doc_id")
        )
        # NOTE(r15): r14 overlapped the quality-cache build with the
        # components phase on a concurrent InheritableThread (guide
        # §2.6), on 2-of-3 A/Bs at the noise floor.  The VERDICT asked
        # for a 5-of-5 quiet-window re-A/B; it came back a wash (thread
        # min 4.06/med 4.14 vs no-thread 3.47/4.51 under drift), so the
        # thread is removed — the driver phase it back-fills is ~0.3 s
        # at gate SFs, and one less moving part in the flagship
        # composition.  At cluster scale the overlap idea belongs to the
        # distributed-fixpoint components path, where the per-round
        # driver phases are long enough to matter.
        cano = curation_canonical_docs(spark, sf_dir, quality=quality).select(
            "doc_id"
        )
        surv = (
            load(spark, sf_dir, "documents")
            .select("doc_id", "lang")
            .join(keep, "doc_id", "left_semi")
            .join(cano, "doc_id", "left_semi")
            # surv feeds BOTH the per-lang quota aggregate and the final
            # quota join -- persist the survivor set (which embeds the
            # quality-filter and canonical-docs subtrees) instead of
            # evaluating that lineage twice.  The r13 spelling ran an EAGER
            # surv.count() here so the quality cache could release before
            # the tail; r14 drops that barrier (one fewer job + no
            # serialization point — measured win at gate SFs) and scopes
            # BOTH caches to the result via release_with: the quality frame
            # is a NARROW per-doc scalar row (never the text), so holding
            # it through the tail costs bounded memory at any corpus size
            # (MEMORY_AND_DISK spill beyond).
            .persist()
        )
        w = surv.groupBy("lang").agg(
            F.floor(F.sqrt(F.count(F.lit(1)).cast("double")) * MIX_QUANT)
            .cast("bigint")
            .alias("q")
        )
        quota = (
            w.crossJoin(F.broadcast(w.agg(F.sum("q").alias("sum_q"))))
            .select(
                "lang",
                F.expr(f"CAST(({MIX_TARGET} * q) DIV sum_q AS BIGINT)").alias("quota"),
            )
        )
        order_cols = (
            F.md5(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))),
            F.asc("doc_id"),
        )
        return release_with(
            _rank_cap(
                surv.join(F.broadcast(quota), "lang"),
                "lang",
                order_cols,
                F.col("quota"),
                cap_bound=MIX_TARGET,
            ).select("doc_id", "lang", "quota"),
            surv,
            quality,
        )
    except BaseException:
        safe_unpersist(quality)
        if surv is not None:
            safe_unpersist(surv)
        raise


@register(
    "curation_mix_report",
    oracle=None,  # assembled below from the quality-filter + canonical oracles
    doc="The per-language funnel card for curation_training_mix — the "
    "observability artifact a corpus build publishes next to the mix "
    "itself: docs in, dropped by the quality gate, dropped as non-"
    "canonical near-dup members, surviving, the temperature quota, and "
    "how many the quota actually selects (min(quota, survivors)). "
    "Every number reuses the registered primitives' arithmetic "
    "verbatim (same quality gate, same canonical set, same "
    "sqrt-quota integers), so the card provably describes the mix "
    "rather than re-deriving it. Plan: the shared quality frame "
    "feeds both eliminations, one groupBy(lang) with map-side "
    "partials, quota math over the |langs|-row aggregate — no "
    "corpus-sized shuffle beyond the primitives' own.",
    tags=("curation", "eval"),
)
def curation_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused one-scan quality+repetition frame (r14) — same sharing as
    # curation_training_mix; the keep-gate no longer joins a second
    # tokenize pass.
    quality = _doc_quality_repetition(spark, sf_dir).persist()
    try:
        keep = curation_quality_filter(spark, sf_dir, quality=quality).select(
            "doc_id", "keep"
        )
        cano = (
            curation_canonical_docs(spark, sf_dir, quality=quality)
            .select("doc_id")
            .withColumn("is_cano", F.lit(True))
        )
        docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
        j = (
            docs.join(keep, "doc_id")
            .join(cano, "doc_id", "left")
            .select("lang", "keep", F.coalesce("is_cano", F.lit(False)).alias("is_cano"))
        )
        agg_df = j.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_quality_fail"),
            F.sum(F.when(F.col("keep") & ~F.col("is_cano"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_removed"),
            F.sum(F.when(F.col("keep") & F.col("is_cano"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_survivors"),
        )
        # Materialize the |langs|-row funnel to the driver and rebuild it
        # as a local frame: the downstream quota math reads it three times
        # (w, sum_q, final select), and a persist here leaked cached
        # partitions for the rest of the session (r4 advice) — a
        # collect of a handful of per-language rows is bounded at any
        # corpus size and leaves nothing cached.
        agg = spark.createDataFrame(agg_df.collect(), schema=agg_df.schema)
    finally:
        safe_unpersist(quality)
    q = F.floor(F.sqrt(F.col("n_survivors").cast("double")) * MIX_QUANT).cast("bigint")
    w = agg.withColumn("q", q)
    out = (
        w.crossJoin(F.broadcast(w.agg(F.sum("q").alias("sum_q"))))
        .select(
            "lang",
            "n_total",
            "n_quality_fail",
            "n_dup_removed",
            "n_survivors",
            F.expr(f"CAST(({MIX_TARGET} * q) DIV sum_q AS BIGINT)").alias("quota"),
        )
        .withColumn("n_selected", F.least("quota", "n_survivors"))
        .orderBy("lang")
    )
    return out


def _assemble_mix_report_oracle() -> None:
    qf_sql = REGISTRY["curation_quality_filter"].oracle
    cano_sql = REGISTRY["curation_canonical_docs"].oracle
    REGISTRY["curation_mix_report"].oracle = f"""
    WITH qf AS ({qf_sql}),
    cano AS ({cano_sql}),
    j AS (
      SELECT d.lang, qf.keep,
             d.doc_id IN (SELECT doc_id FROM cano) AS is_cano
      FROM documents d JOIN qf ON qf.doc_id = d.doc_id
    ),
    agg AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
             CAST(SUM(CASE WHEN keep AND NOT is_cano THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_removed,
             CAST(SUM(CASE WHEN keep AND is_cano THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
      FROM j GROUP BY lang
    ),
    wq AS (
      SELECT lang, CAST(FLOOR(SQRT(CAST(n_survivors AS DOUBLE)) * {MIX_QUANT}) AS BIGINT) AS q
      FROM agg
    )
    SELECT a.lang, a.n_total, a.n_quality_fail, a.n_dup_removed, a.n_survivors,
           CAST(({MIX_TARGET} * wq.q) // (SELECT SUM(q) FROM wq) AS BIGINT) AS quota,
           CAST(LEAST(({MIX_TARGET} * wq.q) // (SELECT SUM(q) FROM wq), a.n_survivors) AS BIGINT) AS n_selected
    FROM agg a JOIN wq USING (lang)
    ORDER BY a.lang
    """


def _assemble_training_mix_oracle() -> None:
    qf_sql = REGISTRY["curation_quality_filter"].oracle
    cano_sql = REGISTRY["curation_canonical_docs"].oracle
    REGISTRY["curation_training_mix"].oracle = f"""
    WITH qf AS ({qf_sql}),
    cano AS ({cano_sql}),
    surv AS (
      SELECT d.doc_id, d.lang
      FROM documents d
      JOIN qf ON qf.doc_id = d.doc_id AND qf.keep
      WHERE d.doc_id IN (SELECT doc_id FROM cano)
    ),
    w AS (
      SELECT lang, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * {MIX_QUANT}) AS BIGINT) AS q
      FROM surv GROUP BY lang
    ),
    quota AS (
      SELECT lang, CAST(({MIX_TARGET} * q) // (SELECT SUM(q) FROM w) AS BIGINT) AS quota
      FROM w
    ),
    ranked AS (
      SELECT s.doc_id, s.lang, t.quota,
             ROW_NUMBER() OVER (PARTITION BY s.lang
                                ORDER BY md5(concat('tmix:', CAST(s.doc_id AS VARCHAR))), s.doc_id) AS rn
      FROM surv s JOIN quota t USING (lang)
    )
    SELECT doc_id, lang, quota FROM ranked WHERE rn <= quota
    """


_assemble_training_mix_oracle()
_assemble_mix_report_oracle()


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle + shard assignment: the "global shuffle"
# every training run needs before sequence packing. Hash order breaks
# source/time locality (a corpus written source-by-source otherwise
# trains source-by-source); shards are the downstream file/worker units.
# ---------------------------------------------------------------------------
N_SHUFFLE_SHARDS = 8


@register(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hkey
      FROM documents
    )
    SELECT doc_id, source,
           CAST(hkey % {N_SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hkey % {N_SHUFFLE_SHARDS}
                                   ORDER BY hkey, doc_id) AS BIGINT) AS shard_pos
    FROM h
    """,
    doc=f"Deterministic corpus shuffle into {N_SHUFFLE_SHARDS} training "
    "shards: md5(doc_id) gives an engine-neutral pseudo-random key; "
    "shard = key mod N, within-shard order = (key, doc_id). Plan: one "
    "narrow hash projection, one window partitioned BY SHARD.  A fixed "
    "shard count still sorts rows/N per window task, so above the "
    "window family's per-key bar the rank routes through the two-level "
    "hkey-range spelling (r10): row_number within (shard, hkey >> s) "
    "chunks + an exclusive running count over the bounded per-chunk "
    "summary — the exact pattern embedding_prototype_prune's two-level "
    "rank already proved, with the chunk shift DERIVED from the "
    "memoized row count so per-task rows stay ~2^16 at any corpus size "
    "(hkey is md5-uniform, so chunk occupancy concentrates tightly). "
    "Output-identical (chunk id is monotone in hkey and equal hkeys "
    "share a chunk; property-tested + forced-switch identity). "
    "Re-running with the same N reproduces the exact epoch order -- "
    "resumable training.",
    tags=("curation",),
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    docs = load(spark, sf_dir, "documents")
    hkey = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
    )
    h = docs.select("doc_id", "source", hkey.alias("hkey"))
    n = switches.table_rows(spark, sf_dir, "documents")
    if n > switches.HOT_KEY_ROWS * N_SHUFFLE_SHARDS:
        return _shuffle_shards_chunked(h, n)
    return _shuffle_shards_flat(h)


def _shuffle_shards_flat(h: DataFrame) -> DataFrame:
    shard = (F.col("hkey") % N_SHUFFLE_SHARDS).cast("bigint")
    w = Window.partitionBy(shard).orderBy("hkey", "doc_id")
    return h.select(
        "doc_id",
        "source",
        shard.alias("shard"),
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
    )


# Expected rows per (shard, hkey-range chunk) the derived chunk shift
# targets: small enough that a window task can never straggle, large
# enough that the per-chunk summary stays tiny relative to the data.
SHUFFLE_CHUNK_TARGET_ROWS = 1 << 16


def _shuffle_shard_shift(n_rows: int) -> int:
    """Right-shift s on the 32-bit hkey such that the expected rows per
    (shard, chunk) is ~SHUFFLE_CHUNK_TARGET_ROWS: 2^(32-s) chunk widths
    give n / (N_SHUFFLE_SHARDS * 2^k) expected occupancy for k = 32-s.
    Clamped to [0, 32]; any value is EXACT (only balance varies)."""
    import math

    k = max(
        0,
        math.ceil(
            math.log2(
                max(1, n_rows / (N_SHUFFLE_SHARDS * SHUFFLE_CHUNK_TARGET_ROWS))
            )
        ),
    )
    return max(0, 32 - k)


def _shuffle_shards_chunked(
    h: DataFrame, n_rows: int, *, shift: int | None = None
) -> DataFrame:
    """Two-level spelling of the per-shard rank (r10 scale-killer #9):
    shard_pos = (rows of the shard in strictly-lower hkey chunks)
              + row_number within (shard, chunk).
    Exact because chunk = hkey >> s is monotone in hkey and equal hkeys
    share a chunk, so within-(shard, chunk) order (hkey, doc_id) is the
    global shard order restricted — the same argument as
    embedding_prototype_prune's bucket rank and the PPJoin prefix rank.
    Every window is bounded: the data window by the chunk occupancy
    (~2^16 expected under the md5-uniform hkey), the summary window by
    the chunk COUNT (one row per nonempty (shard, chunk))."""
    s = _shuffle_shard_shift(n_rows) if shift is None else shift
    d = h.select(
        "doc_id",
        "source",
        "hkey",
        (F.col("hkey") % N_SHUFFLE_SHARDS).cast("bigint").alias("shard"),
        F.shiftright("hkey", s).alias("_chunk"),
    )
    wl = Window.partitionBy("shard", "_chunk").orderBy("hkey", "doc_id")
    counts = d.groupBy("shard", "_chunk").agg(F.count(F.lit(1)).alias("_n"))
    wc = (
        Window.partitionBy("shard")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "shard", "_chunk", F.coalesce(F.sum("_n").over(wc), F.lit(0)).alias("_off")
    )
    return (
        d.withColumn("_rn", F.row_number().over(wl))
        .join(offs, ["shard", "_chunk"])
        .select(
            "doc_id",
            "source",
            "shard",
            (F.col("_off") + F.col("_rn")).cast("bigint").alias("shard_pos"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source dedup observability report.
# ---------------------------------------------------------------------------
@register(
    "curation_dedup_report",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT content_hash) AS n_unique,
           CAST(FLOOR((1e6 * (COUNT(*) - COUNT(DISTINCT content_hash)))
                      / COUNT(*)) AS BIGINT) AS dup_rate_micro
    FROM h
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source exact-duplicate rate: docs vs distinct normalized "
    "content hashes per source (same md5 normalization as dedup_exact), "
    "dup share in micro units from exact integer counts. The "
    "observability report a corpus build publishes per ingestion source; "
    "one partial-aggregable exchange on source (COUNT DISTINCT expands "
    "to a two-level aggregate Catalyst plans map-side-first).",
    tags=("curation", "dedup", "eval"),
)
def curation_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators.dedup import _norm_text

    docs = load(spark, sf_dir, "documents").select(
        "source", F.md5(F.encode(_norm_text(), "utf-8")).alias("content_hash")
    )
    n_docs = F.count(F.lit(1)).alias("n_docs")
    n_unique = F.countDistinct("content_hash").alias("n_unique")
    return (
        docs.groupBy("source")
        .agg(n_docs, n_unique)
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.floor((F.lit(1e6) * (F.col("n_docs") - F.col("n_unique"))) / F.col("n_docs"))
            .cast("bigint")
            .alias("dup_rate_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style data selection: importance resampling toward a target domain
# (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling"). Features are the shared hashed uni+bigram space from
# operators/text.py; the target/raw bucket count models give each bucket
# a smoothed probability-ratio score, and a document's importance weight
# is the sum of its features' scores.
# ---------------------------------------------------------------------------
DSIR_TARGET_SOURCE = "src0"  # the curated-domain stand-in
DSIR_K = 100  # documents selected
DSIR_RQ = 1_000_000  # ratio quantization


@register(
    "curation_dsir_select",
    oracle=None,  # assembled below (shares the _DUCK_FEATS fragment)
    doc=f"DSIR data selection: rank every document by how much its hashed "
    f"uni+bigram features look like the target domain (source = "
    f"'{DSIR_TARGET_SOURCE}') relative to the raw pool, then select the "
    f"top {DSIR_K}. Per-bucket score = floor({DSIR_RQ} * (target_count "
    "+ 1) / (raw_count + 1)) — the add-one-smoothed probability ratio "
    "in exact BIGINT arithmetic. The paper's log-likelihood-ratio "
    "weight needs ln() (libm last-bit risk across engines); this sums "
    "the quantized ratios instead — a deterministic importance "
    "statistic with the same pipeline shape. (The constant "
    "normalization (tot_raw+B)/(tot_target+B) multiplies every bucket "
    "equally, so dropping it rescales all scores by one factor per "
    "corpus; production can reintroduce ln-scores as a literal table "
    "without touching the plan.) Scale shape: one ngram explode (the "
    "same stream every tokenizer stat runs), two bucket-count "
    f"aggregates over {FEAT_BUCKETS} keys, a {FEAT_BUCKETS}-row score "
    "table BROADCAST into the feature stream, one groupBy(doc_id) "
    "partial-agg sum, and a TakeOrdered top-k (no global sort window) "
    "joined back as the selected flag. BIGINT bound: score <= RQ * "
    "(tot_target + 1), so at corpus scale lower RQ or widen to "
    "DECIMAL(38,0) — the sf0.1 bound is ~5e10, comfortably exact.",
    tags=("curation", "split", "text"),
)
def curation_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Repartition BEFORE the ngram fan-out (r14, the _shingle_arrays
    # rule): the documents file is one parquet split at gate SFs, so
    # without this the tokenize+explode+bucket pipeline — and the
    # persisted feats cache it fills — lives on ONE task/partition
    # (measured: two 0.8 s single-task stages, ~80% of the query's
    # executor time).  Gated on the scan's split count (r15, VERDICT
    # #2): a many-split scan is already parallel and must NOT pay a
    # full-text shuffle.
    from osm2orc_spark.operators import switches

    docs = switches.fanout_repartition(
        spark, sf_dir, load(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "source", _text_toks().alias("t"))
    feats = docs.select(
        "doc_id",
        "source",
        F.explode(_ngrams_uni_bi("t")).alias("ngram"),
    ).select("doc_id", "source", feature_bucket(F.col("ngram"), "dsir").alias("b"))
    # PERSISTED (r8): feats feeds the score build AND the weights probe,
    # and weights feeds topk AND the final join — unpersisted, Catalyst
    # plans the tokenize+explode subtree FOUR times (audit_scans counted
    # 4 raw document scans). The r5 "wide exploded frames lose to
    # recompute" rule does not apply: post-bucketing feats is three
    # scalar columns. Measured at sf0.1: 2.42 -> 1.28s with both caches
    # (weights alone 2.29s). Scoped to the result via release_with.
    feats = feats.persist()

    # ONE aggregate produces both count models (raw = COUNT(*), target =
    # conditional count) -- the naive two-aggregate + join form evaluates
    # the tokenize+explode subtree twice and shuffles twice on b.
    score = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("r_cnt"),
        F.count_if(F.col("source") == DSIR_TARGET_SOURCE).alias("t_cnt"),
    ).select(
        "b",
        F.expr(
            f"CAST(({DSIR_RQ} * (t_cnt + 1)) DIV (r_cnt + 1) AS BIGINT)"
        ).alias("s"),
    )
    weights = (
        feats.join(F.broadcast(score), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("s").cast("bigint").alias("weight"),
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
        )
        .persist()  # one row per doc; feeds topk + the final join
    )
    topk = (
        weights.orderBy(F.desc("weight"), "doc_id")
        .limit(DSIR_K)
        .select("doc_id", F.lit(True).alias("sel"))
    )
    from osm2orc_spark.operators.cache import release_with

    return release_with(
        weights.join(topk, "doc_id", "left").select(
            "doc_id",
            "source",
            "weight",
            "n_feats",
            F.coalesce(F.col("sel"), F.lit(False)).alias("selected"),
        ),
        feats,
        weights,
    )


def _assemble_dsir_oracle() -> None:
    from osm2orc_spark.operators.text import _DUCK_FEATS

    feats_cte = _DUCK_FEATS.format(salt="dsir", buckets=FEAT_BUCKETS)
    REGISTRY["curation_dsir_select"].oracle = f"""
    WITH {feats_cte},
    score AS (
      SELECT b,
             CAST(({DSIR_RQ} * (COUNT(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}') + 1))
                  // (COUNT(*) + 1) AS BIGINT) AS s
      FROM feats GROUP BY b
    ),
    weights AS (
      SELECT f.doc_id, f.source,
             CAST(SUM(s.s) AS BIGINT) AS weight,
             CAST(COUNT(*) AS BIGINT) AS n_feats
      FROM feats f JOIN score s ON s.b = f.b
      GROUP BY f.doc_id, f.source
    ),
    topk AS (
      SELECT doc_id, TRUE AS sel FROM weights
      QUALIFY ROW_NUMBER() OVER (ORDER BY weight DESC, doc_id) <= {DSIR_K}
    )
    SELECT w.doc_id, w.source, w.weight, w.n_feats,
           COALESCE(t.sel, FALSE) AS selected
    FROM weights w LEFT JOIN topk t ON t.doc_id = w.doc_id
    """


_assemble_dsir_oracle()


# ---------------------------------------------------------------------------
# Epoch-based source mixing: replicate each source a fractional number
# of epochs (LLaMA/GPT-3-style sampling-proportion tables). A source at
# 2.45 epochs emits every doc twice plus a 45% deterministic subset a
# third time; a source at 0.6 epochs emits only 60% of its docs once —
# up- and down-sampling fall out of the same arithmetic.
# ---------------------------------------------------------------------------
EPOCH_MILLIS: dict[str, int] = {"src0": 2450, "src1": 1800, "src2": 1300}
EPOCH_DEFAULT_MILLIS = 600


def _epoch_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {m}" for s, m in EPOCH_MILLIS.items()
    )
    return f"CASE source {whens} ELSE {EPOCH_DEFAULT_MILLIS} END"


@register(
    "curation_epoch_mix",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             {_epoch_case_sql()} AS em,
             CAST(concat('0x', substr(md5('em:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS h
      FROM documents
    ),
    copies AS (
      SELECT doc_id, source,
             em // 1000 + CASE WHEN h < em % 1000 THEN 1 ELSE 0 END AS n
      FROM base
    )
    SELECT doc_id, source, CAST(g AS BIGINT) AS epoch_idx
    FROM copies CROSS JOIN unnest(generate_series(1, n)) AS u(g)
    """,
    doc="Epoch-mix expansion: per-source epoch targets in millis "
    f"({EPOCH_MILLIS}, default {EPOCH_DEFAULT_MILLIS} = 0.6 epochs) "
    "become per-doc copy counts — floor(epochs) full passes plus one "
    "more for the md5-ranked fractional subset; targets under 1.0 "
    "downsample by the same rule (0 or 1 copies). The output is the "
    "replicated training stream with an epoch_idx per copy (what a "
    "sampler materializes before shard shuffling). All integer "
    "arithmetic; membership in the fractional epoch is a salted md5 "
    "threshold so both engines agree bit-for-bit. Scale shape: pure "
    "per-row expressions plus one sequence-explode — no shuffle at all; "
    "the fan-out factor is the mixture's average epoch count, and the "
    "explode streams (never materializes a doc's copies together "
    "beyond the row batch).",
    tags=("curation", "split"),
)
def curation_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    em = F.lit(EPOCH_DEFAULT_MILLIS)
    for s, m in reversed(EPOCH_MILLIS.items()):
        em = F.when(F.col("source") == s, m).otherwise(em)
    h = (
        F.conv(
            F.substring(
                F.md5(F.encode(F.concat(F.lit("em:"), F.col("doc_id").cast("string")), "utf-8")),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    n = F.expr("em DIV 1000") + F.when(F.col("h") < F.expr("em % 1000"), 1).otherwise(0)
    return (
        docs.select("doc_id", "source", em.alias("em"), h.alias("h"))
        .select("doc_id", "source", n.alias("n"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.when(F.col("n") >= 1, F.expr("sequence(1, n)")).otherwise(
                    F.expr("array()")
                )
            ).alias("g"),
        )
        .select("doc_id", "source", F.col("g").cast("bigint").alias("epoch_idx"))
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination report: the test-set-owner's view of the same
# shingle overlap curation_decontaminate scrubs from the train side.
# ---------------------------------------------------------------------------
@register(
    "curation_contamination_report",
    oracle=f"""
    WITH {{shingles}},
    {{split}}
    , te AS (
      SELECT s.doc_id AS test_doc_id, s.shingle
      FROM shingles s JOIN split_assign a
        ON a.doc_id = s.doc_id AND a.split = 'test'
    ),
    tr AS (
      SELECT s.doc_id AS train_doc_id, s.shingle
      FROM shingles s JOIN split_assign a
        ON a.doc_id = s.doc_id AND a.split = 'train'
    ),
    j AS (
      SELECT te.test_doc_id, te.shingle, tr.train_doc_id
      FROM te LEFT JOIN tr ON tr.shingle = te.shingle
    ),
    agg AS (
      SELECT test_doc_id,
             CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_shingles,
             CAST(COUNT(DISTINCT CASE WHEN train_doc_id IS NOT NULL THEN shingle END) AS BIGINT) AS n_contaminated,
             CAST(COUNT(DISTINCT train_doc_id) AS BIGINT) AS n_train_docs_hit
      FROM j GROUP BY test_doc_id
    )
    SELECT test_doc_id, n_shingles, n_contaminated, n_train_docs_hit,
           CAST(floor((1000000 * n_contaminated) / n_shingles) AS BIGINT) AS contamination_micro
    FROM agg
    """,
    doc="Per-test-document contamination report (the GPT-3-appendix-style "
    "analysis a benchmark owner publishes): for every test-split "
    "document, how many of its word 3-shingles appear anywhere in the "
    "training split, how many distinct train documents hit it, and the "
    "contaminated-shingle ratio in micro units (one IEEE division from "
    "exact integer counts). The doc-centric dual of "
    "curation_decontaminate — same md5-bucket split rule, same shingle "
    "join — aggregated from the test side. Scale: the same flat-mass "
    "probe as curation_decontaminate routes the same boilerplate regime "
    "(the left join fans out df_test(g) * df_train(g) rows per shingle "
    "exactly like the inner join) to a factored spelling: n_shingles is "
    "a local count, n_contaminated a semi-join against the DISTINCT "
    "train shingle set (linear), and n_train_docs_hit the "
    "combination-factored union counter with the sides swapped.",
    tags=("curation", "dedup", "eval"),
)
def curation_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    tagged = _split_tagged_shingles(spark, sf_dir)
    te = tagged.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "shingle"
    )
    tr = tagged.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "shingle"
    )
    flat = switches.cached_probe(
        sf_dir,
        "decon_flat_pairs",
        lambda: _decon_flat_pairs(
            tr.withColumnRenamed("train_doc_id", "doc_id"), te
        ),
    )
    if flat > switches.DECON_FLAT_PAIRS_MAX:
        return _contamination_report_factored(te, tr)
    agg = (
        te.join(tr, "shingle", "left")
        .groupBy("test_doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shingles"),
            F.countDistinct(
                F.when(F.col("train_doc_id").isNotNull(), F.col("shingle"))
            ).alias("n_contaminated"),
            F.countDistinct("train_doc_id").alias("n_train_docs_hit"),
        )
    )
    return agg.select(
        "test_doc_id",
        "n_shingles",
        "n_contaminated",
        "n_train_docs_hit",
        F.floor((F.lit(1000000) * F.col("n_contaminated")) / F.col("n_shingles"))
        .cast("bigint")
        .alias("contamination_micro"),
    )


def _contamination_report_factored(te: DataFrame, tr: DataFrame) -> DataFrame:
    """Factored spelling of curation_contamination_report — the union
    counter with the sides swapped (per TEST doc: distinct TRAIN docs
    hit).  Test docs with zero contamination keep their row (the flat
    plan's left join) via left joins onto the local n_shingles base,
    with counts coalesced to 0."""
    te = te.persist()
    tr = tr.persist()
    base = te.groupBy("test_doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    tr_sh = tr.select("shingle").distinct()
    ncont = (
        te.join(tr_sh, "shingle")
        .groupBy("test_doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )
    hits = _union_hit_counts(
        te.select(F.col("test_doc_id").alias("doc_id"), "shingle"),
        tr.select(F.col("train_doc_id").alias("rdoc_id"), "shingle"),
    ).select(F.col("doc_id").alias("test_doc_id"), "n_hit")
    ncont_c = F.coalesce("n_contaminated", F.lit(0)).cast("bigint")
    out = (
        base.join(ncont, "test_doc_id", "left")
        .join(hits, "test_doc_id", "left")
        .select(
            "test_doc_id",
            "n_shingles",
            ncont_c.alias("n_contaminated"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_train_docs_hit"),
            F.floor((F.lit(1000000) * ncont_c) / F.col("n_shingles"))
            .cast("bigint")
            .alias("contamination_micro"),
        )
    )
    return release_with(out, te, tr)


def _assemble_contamination_oracle() -> None:
    REGISTRY["curation_contamination_report"].oracle = (
        REGISTRY["curation_contamination_report"]
        .oracle.replace("{shingles}", _DUCK_SHINGLES)
        .replace("{split}", _DUCK_SPLIT)
    )


_assemble_contamination_oracle()


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup over the kNN self-join (r11 verdict #4):
# the stated reason ann_knn_join_prebuilt exists — per-doc neighborhoods
# feeding a greedy keep rule.  Rule (the dedup_semantic_kmeans keeper
# idiom, similarity.py: "dropped iff a lower-id mate has cosine >=
# threshold"): symmetrize the kNN edges at NEAR_DUP_COS, then a vector
# is DROPPED iff it has any lower-id neighbor above the threshold;
# dup_of records the smallest such witness (a near-dup witness, not
# necessarily itself a survivor — chains drop transitively by id
# order).  Survivors are therefore MUTUALLY sub-threshold across every
# observed kNN edge: if an edge (a < b) were above tau, b would be
# dropped — the invariant tests/test_selection_invariants.py pins.
#
# Scale shape: everything after the kNN join is linear — filter,
# symmetrizing union + distinct (<= 2*n*k rows), one groupBy(vec_id),
# one equi-join back to the id scan.  The kNN join itself carries the
# bounded-stage analysis (and the k-scale switch) of its own entry.
# ---------------------------------------------------------------------------
SEMDEDUP_TAU = NEAR_DUP_COS


@register(
    "curation_semdedup",
    oracle=None,  # assembled below from the kNN CTE chain
    doc="Semantic dedup composed on the corpus-wide kNN self-join: "
    "symmetrized neighbor edges at the house NEAR_DUP_COS threshold, "
    "greedy keep-lowest-id rule (the dedup_semantic_kmeans keeper "
    "idiom), per-doc near-neighbor degree and dup_of witness.  The "
    "oracle replays the registered kNN oracle's identical CTE graph "
    "(shared _knn_cte_sql) plus the greedy tail, so fit, probe list, "
    "cosines, ranks, edges, and the keep decision are all value-hashed. "
    "All post-kNN stages are linear (<= 2*n*k edge rows, one groupBy, "
    "one equi-join back); inherits the kNN join's k-scale switch.",
    tags=("curation", "similarity"),
)
def curation_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators.ann_index import _knn_join_registered

    return _semdedup_tail(spark, sf_dir, _knn_join_registered(spark, sf_dir))


def _semdedup_tail(spark: SparkSession, sf_dir: str, knn: DataFrame) -> DataFrame:
    """The greedy keep rule over a kNN edge list — factored so the
    recall-routed variant composes the IDENTICAL tail over its join."""
    # NOTE(r15, VERDICT #8): ``edges ∪ reversed(edges)`` IS two identical
    # kNN subtrees to Catalyst (no CSE across a union; executed plan:
    # 6 rank windows, 0 ReusedExchange) — the dedup_components mirror
    # precedent suggested persisting the directed list once.  MEASURED
    # WORSE both ways at sf0.1 (interleaved A/B, min-of-6): lazy
    # replicated 1.55/1.80 (min/med) vs eager persist+count 1.89/2.38 vs
    # lazy persist 4.96+ (cold-cache race, both branches compute AND
    # fight over block writes).  Same verdict as the r14 shingle-cache
    # family: the replicated branches overlap on idle cores while a
    # persist serializes every consumer behind one build.  Components'
    # pairs persist differs because ITS count is also the strategy probe
    # (the job is not optional).  At cluster scale (no idle cores) the
    # 2x kNN compute is the bigger cost — revisit with an XL twin if
    # semdedup becomes the tail; the mechanism, not just the verdict,
    # is what transfers.
    edges = knn.filter(F.col("cosine") >= F.lit(SEMDEDUP_TAU)).select(
        "vec_id", "nb_id"
    )
    sym = edges.union(
        edges.select(F.col("nb_id").alias("vec_id"), F.col("vec_id").alias("nb_id"))
    ).distinct()
    agg = sym.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_near"),
        F.min(F.when(F.col("nb_id") < F.col("vec_id"), F.col("nb_id"))).alias(
            "dup_of"
        ),
    )
    ids = load(spark, sf_dir, "embeddings").select("vec_id")
    return (
        ids.join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.col("dup_of").isNull().alias("kept"),
            F.coalesce(F.col("n_near"), F.lit(0).cast("long")).alias("n_near"),
            "dup_of",
        )
        .orderBy("vec_id")
    )


def _semdedup_cte_sql(tuned: bool = False) -> str:
    """The semdedup CTE chain (kNN graph + greedy tail), ending in
    ``sd_result``(vec_id, kept, n_near, dup_of) — factored so composed
    consumers (curation_semdedup_docs, the recall-routed variant)
    replay the identical graph the registered oracle value-hashes
    instead of forking a spelling.  ``tuned`` swaps in the
    recall-routed kNN CTE (identical spelling, fan-out chosen by the
    exact recall curve)."""
    from osm2orc_spark.operators.ann_index import (
        _knn_cte_sql,
        _knn_cte_tuned_sql,
    )

    knn_cte = _knn_cte_tuned_sql() if tuned else _knn_cte_sql()
    return f"""{knn_cte},
    sd_edges AS (
      SELECT vec_id, nb_id FROM knn WHERE cosine >= {SEMDEDUP_TAU!r}
    ),
    sd_sym AS (
      SELECT vec_id, nb_id FROM sd_edges
      UNION
      SELECT nb_id, vec_id FROM sd_edges
    ),
    sd_agg AS (
      SELECT vec_id, COUNT(*) AS n_near,
             MIN(CASE WHEN nb_id < vec_id THEN nb_id END) AS dup_of
      FROM sd_sym GROUP BY 1
    ),
    sd_result AS (
      SELECT e.vec_id, a.dup_of IS NULL AS kept,
             COALESCE(a.n_near, 0) AS n_near, a.dup_of
      FROM embeddings e LEFT JOIN sd_agg a ON a.vec_id = e.vec_id
    )"""


def _assemble_semdedup_oracle() -> None:
    REGISTRY["curation_semdedup"].oracle = f"""
    WITH {_semdedup_cte_sql()}
    SELECT vec_id, kept, n_near, dup_of FROM sd_result
    ORDER BY vec_id
    """


_assemble_semdedup_oracle()


@register(
    "curation_semdedup_docs",
    oracle=None,  # assembled below from the semdedup CTE chain
    doc="The corpus-facing application of curation_semdedup: the "
    "surviving DOCUMENTS (embeddings.vec_id is the 1:1 doc_id key in "
    "the driver schema) with their metadata and near-dup pressure — "
    "what a training-data pipeline actually materializes after "
    "semantic dedup.  One additional equi-join of the survivor ids "
    "against the documents scan (linear; all heavy lifting is the "
    "composed kNN + greedy tail, which carries its own scale record). "
    "The oracle replays the identical semdedup CTE chain (shared "
    "_semdedup_cte_sql) plus the join — value-hashed end-to-end.",
    tags=("curation", "similarity"),
)
def curation_semdedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sd = curation_semdedup(spark, sf_dir).filter(F.col("kept"))
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return (
        docs.join(sd, docs["doc_id"] == sd["vec_id"])
        .select("doc_id", "lang", "source", "n_chars", "n_near")
        .orderBy("doc_id")
    )


def _assemble_semdedup_docs_oracle() -> None:
    REGISTRY["curation_semdedup_docs"].oracle = f"""
    WITH {_semdedup_cte_sql()}
    SELECT d.doc_id, d.lang, d.source, d.n_chars, s.n_near
    FROM documents d JOIN sd_result s ON s.vec_id = d.doc_id
    WHERE s.kept
    ORDER BY d.doc_id
    """


_assemble_semdedup_docs_oracle()


@register(
    "curation_semdedup_tuned",
    oracle=None,  # assembled below from the tuned semdedup CTE chain
    doc="curation_semdedup over the RECALL-ROUTED kNN join (r13 — the "
    "r12 verdict's stated reason for the recall fix: at the fixed "
    "nprobe=2 config ~half of true near-dup pairs were invisible to "
    "the greedy keep rule).  Identical greedy tail (shared "
    "_semdedup_tail / _semdedup_cte_sql), edge list from "
    "ann_knn_join_tuned; by candidate-set monotonicity the per-vector "
    "above-threshold edge count can only grow vs the default route "
    "(pinned in tests), so the tuned variant catches near-dups the "
    "default provably missed.  Same linear post-kNN shape; inherits "
    "both the k-scale switch and the recall route.",
    tags=("curation", "similarity"),
)
def curation_semdedup_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators.ann_index import _knn_join_tuned

    return _semdedup_tail(spark, sf_dir, _knn_join_tuned(spark, sf_dir))


def _assemble_semdedup_tuned_oracle() -> None:
    REGISTRY["curation_semdedup_tuned"].oracle = f"""
    WITH {_semdedup_cte_sql(tuned=True)}
    SELECT vec_id, kept, n_near, dup_of FROM sd_result
    ORDER BY vec_id
    """


_assemble_semdedup_tuned_oracle()
