"""Stage 4 — pairwise scoring: ``pairs`` + ``features`` -> ``scores``.

Ancestor: the kNN probe + threshold accept (vector/sqlite.go:368-437
SQL at :378-391; MeetsThreshold :440-447; top-1 early break
compare/geohash.go:154-187). The reference embeds each record over HTTP
(one Ollama call per row) and L2-compares; here scoring is three local
deterministic features (north_star):

- jw_path          Jaro-Winkler on full paths        (Arrow UDF)
- jaccard_content  token-shingle Jaccard on content  (native Columns)
- cosine_ngram     cosine over hashed char-n-grams   (Arrow UDF)

composite:  score = 0.15*jw + 0.55*jaccard + 0.30*cosine
match iff  jaccard >= JAC_FLOOR  AND  score >= threshold.

Every pair is scored this one way and accepted against one threshold,
as the reference does (MeetsThreshold, vector/sqlite.go:440-447); the
default threshold is ``PipelineConfig.threshold``. ``build_features``
runs once per record and ``score_pairs`` takes its (checkpointed)
output — plans.pipeline materializes it as its own stage.

TWO-PHASE EXECUTION — the scale-critical design (the distributed analog
of the reference's per-record early break, compare/geohash.go:184-186):

  phase 1  pairs join ONLY the compact per-record shingle-hash arrays
           (int32, ~240 B/side) and compute exact Jaccard. Pairs below
           JAC_FLOOR are decided non-matches right there — for file
           dedup, content overlap is a necessary condition (path
           similarity alone must never match: hard negatives live at
           near-identical paths, like two different venues on one
           street). This is typically >90% of candidates.
  phase 2  only floor-passing pairs join the heavy features (path
           strings + 128-dim hashed-n-gram vectors) and run the Arrow
           UDF. Bytes through the wide join drop by the same >90%.

Weights + threshold calibrated on the labeled synthetic fixtures
(tests/test_pipeline.py::test_f1_on_labeled_same_block_pairs):
3-token-shingle Jaccard separates near duplicates (>=0.16) from
hard negatives (0.0) perfectly; composite margins: near >= 0.50,
hard-negative <= 0.40.

The weights sum to exactly 1.0 in double, so the composite is the
plain weighted sum (no normalizing division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_dedupe_spark.functions.similarity import (
    hashed_ngram_vector_udf,
    path_vec_scores_udf,
    set_jaccard,
    token_shingles,
    word_tokens,
)

W_JW = 0.15
W_JACCARD = 0.55
W_COSINE = 0.30
JAC_FLOOR = 0.10
SHINGLE_N = 3


def _shingle_hash32(shingles):
    """int32 shingle hashes — the phase-1 payload (4 B/element).
    7 hex chars = 28 bits (ANSI cast to INT must not overflow)."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long").cast("int"),
    )


def build_features(records: DataFrame) -> DataFrame:
    """Per-record scoring features, computed ONCE: (id, path,
    content_sha256, toks [distinct int32 shingle hashes], n_toks [their
    count], ngram_vec [float32, normalized]).

    Checkpoint this (plans.pipeline does) — the per-record vector UDF is
    the single most expensive map in the pipeline, and without
    materialization Catalyst re-evaluates it inside BOTH join sides
    (measured: 2x ~125 CPU-s inside BroadcastExchange builds at 100k
    records).

    A content with no word token has one shingle, its content hash:
    identical such contents share it and reach the ``exact`` check,
    different ones (empty vs punctuation-only) share nothing and floor
    instead of matching on path similarity alone."""
    base = records.select(
        "id", "path", "content_sha256", "content",
        word_tokens(F.col("content")).alias("_toks"),
    ).select(
        "id", "path", "content_sha256", "content",
        F.when(F.size("_toks") == 0, F.array("content_sha256"))
        .otherwise(token_shingles(F.col("_toks"), n=SHINGLE_N))
        .alias("_shingles"),
    ).select(
        "id", "path", "content_sha256", "content",
        F.array_distinct(_shingle_hash32(F.col("_shingles"))).alias("toks"),
    )
    return base.select(
        "id", "path", "content_sha256", "toks",
        F.size("toks").alias("n_toks"),
        hashed_ngram_vector_udf(F.col("content")).alias("ngram_vec"),
    )


def score_pairs(pairs: DataFrame, features: DataFrame,
                threshold: float) -> DataFrame:
    """pairs + ``build_features`` output -> scores(id_a, id_b,
    block_key, jw_path, jaccard_content, cosine_ngram, score, is_match,
    decided_by).

    Every pair gets exactly one row. Rows decided at phase 1 carry NULL
    jw_path/cosine_ngram, a lower-bound score (W_JACCARD * jaccard) and
    decided_by = 'jaccard_floor'; phase-2 rows carry full features and
    decided_by 'exact' (byte-identical content) or 'full'. A side with
    NULL content shares no shingle: Jaccard 0.0, floored.

    Pass ``features`` materialized (localCheckpoint or a checkpoint
    table): each phase joins it twice, and a lazy frame re-runs the
    vector UDF per join side.

    Both phases run at the partitioning ``pairs`` arrives in, and
    Spark's size rule (``autoBroadcastJoinThreshold``) picks broadcast
    or shuffle for each feature join. Phase 2 is a Python stage, so it
    adds no exchange of its own: every extra concurrent task forks
    another Python worker. Where the feature sides are too big
    to broadcast, the shuffle joins on ``id_a``/``id_b`` partition the
    pairs anyway."""
    # ---------------- phase 1: compact Jaccard + floor decision
    a1 = features.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"),
                         F.col("n_toks").alias("n_a"))
    b1 = features.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"),
                         F.col("n_toks").alias("n_b"))
    # a NULL content has no shingles (its toks are NULL): 0.0, floored
    p1 = (
        pairs.join(a1, "id_a").join(b1, "id_b")
        .select("id_a", "id_b", "block_key",
                F.coalesce(set_jaccard("toks_a", "toks_b", "n_a", "n_b"),
                           F.lit(0.0)).alias("jaccard_content"))
    )
    floor_neg = p1.where(F.col("jaccard_content") < JAC_FLOOR).select(
        "id_a", "id_b", "block_key",
        F.lit(None).cast("double").alias("jw_path"),
        "jaccard_content",
        F.lit(None).cast("double").alias("cosine_ngram"),
        (F.col("jaccard_content") * W_JACCARD).alias("score"),
        F.lit(False).alias("is_match"),
        F.lit("jaccard_floor").alias("decided_by"),
    )
    survivors = p1.where(F.col("jaccard_content") >= JAC_FLOOR)

    # ---------------- phase 2: heavy features for floor survivors only
    wide = features.select("id", "path", "content_sha256", "ngram_vec")
    a2 = wide.select(F.col("id").alias("id_a"), F.col("path").alias("path_a"),
                     F.col("content_sha256").alias("sha_a"),
                     F.col("ngram_vec").alias("vec_a"))
    b2 = wide.select(F.col("id").alias("id_b"), F.col("path").alias("path_b"),
                     F.col("content_sha256").alias("sha_b"),
                     F.col("ngram_vec").alias("vec_b"))
    j2 = survivors.join(a2, "id_a").join(b2, "id_b").withColumn(
        "_uv", path_vec_scores_udf(
            F.col("path_a"), F.col("path_b"), F.col("vec_a"), F.col("vec_b")))

    exact = F.col("sha_a") == F.col("sha_b")
    scored2 = j2.select(
        "id_a", "id_b", "block_key",
        F.when(exact, F.lit(1.0)).otherwise(F.col("_uv.jw")).alias("jw_path"),
        F.when(exact, F.lit(1.0)).otherwise(F.col("jaccard_content"))
        .alias("jaccard_content"),
        F.when(exact, F.lit(1.0)).otherwise(F.col("_uv.cos"))
        .alias("cosine_ngram"),
        F.when(exact, F.lit("exact")).otherwise(F.lit("full")).alias("decided_by"),
    ).withColumn(
        "score",
        F.col("jw_path") * W_JW
        + F.col("jaccard_content") * W_JACCARD
        + F.col("cosine_ngram") * W_COSINE,
    ).withColumn("is_match", F.col("score") >= F.lit(threshold)) \
     .select("id_a", "id_b", "block_key", "jw_path", "jaccard_content",
             "cosine_ngram", "score", "is_match", "decided_by")

    return floor_neg.unionByName(scored2)


def top_k_matches(scores: DataFrame, k: int = 10) -> DataFrame:
    """Top-k accepted matches (``is_match``) per left record, ranked by
    score then id_b — the analog of the reference's ``ORDER BY distance
    LIMIT k`` + top-1 early break (vector/sqlite.go:391,
    compare/geohash.go:184-186). Window-ranked, JVM-side; the
    ``er_matches_topk`` entry query is this over ``er_scores``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a").orderBy(F.desc("score"), "id_b")
    return (
        scores.where("is_match")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
