"""The end-to-end dedupe plan: files -> records -> blocks -> pairs ->
scores -> components -> resolution.

This is the Spark replacement for the reference's three CLI tools
chained by CSV files (index-locations -> compare-locations ->
wof-process-duplicates, SURVEY.md §3): one declarative plan, each stage
checkpointed and individually resumable.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_dedupe_spark.functions import hashing, similarity
from go_dedupe_spark.functions.similarity import word_tokens
from go_dedupe_spark.operators import blocking, scoring
from go_dedupe_spark.operators.blocking import Band, make_blocks
from go_dedupe_spark.operators.components import (
    connected_components,
    with_singletons,
)
from go_dedupe_spark.operators.normalize import normalize
from go_dedupe_spark.operators.pairs import (
    DEFAULT_MAX_BLOCK,
    DEFAULT_SALT_CAP,
    candidate_pairs,
)
from go_dedupe_spark.operators.resolve import resolve_clusters
from go_dedupe_spark.operators.scoring import build_features, score_pairs
from go_dedupe_spark.plans.checkpoint import CheckpointStore

# the module constants the stages compute with, beside the config fields
_STAGE_CONSTANTS = {
    scoring: ("W_JW", "W_JACCARD", "W_COSINE", "JAC_FLOOR", "SHINGLE_N"),
    similarity: ("HASH_DIM", "NGRAM_N"), blocking: ("SHA_PREFIX_LEN",)}


@dataclass
class PipelineConfig:
    threshold: float = 0.52
    num_hashes: int = hashing.DEFAULT_NUM_HASHES
    band_rows: int = hashing.DEFAULT_BAND_ROWS
    content_num_hashes: int = 9
    content_band_rows: int = 3
    max_block: int = DEFAULT_MAX_BLOCK
    salt_cap: int = DEFAULT_SALT_CAP

    def fingerprint(self) -> str:
        """Deterministic hash of every stage-relevant field and of the
        stages' module constants (scoring weights and floor, shingle,
        n-gram and hash sizes, the sha block prefix). Folded into the
        checkpoint snapshot key: a rerun with a changed threshold / band
        geometry / max_block, or with code that changed a constant, must
        NOT silently reuse stage outputs computed under the old values."""
        state = asdict(self) | {
            f"{mod.__name__}.{name}": getattr(mod, name)
            for mod, names in _STAGE_CONSTANTS.items() for name in names}
        return hashlib.sha256(
            json.dumps(state, sort_keys=True).encode()
        ).hexdigest()[:16]

    def bands(self) -> list[Band]:
        """Blocking bands: MinHash over path tokens (``mh``) and over
        content words (``cmh``)."""
        return [
            ("mh", F.col("path_tokens"), self.num_hashes, self.band_rows),
            ("cmh", word_tokens(F.col("content")),
             self.content_num_hashes, self.content_band_rows),
        ]


@dataclass
class PipelineResult:
    records: DataFrame
    blocks: DataFrame
    pairs: DataFrame
    scores: DataFrame
    components: DataFrame
    resolution: DataFrame


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: PipelineConfig | None = None,
    store: CheckpointStore | None = None,
    input_snapshot: str = "adhoc",
) -> PipelineResult:
    """Run all six stages. With a ``store``, each stage checkpoints and
    resumes idempotently (same input_snapshot AND same config -> reuse;
    the config fingerprint is folded into the snapshot key so a changed
    threshold/band geometry recomputes instead of serving stale stages)."""
    cfg = cfg or PipelineConfig()
    input_snapshot = f"{input_snapshot}:cfg={cfg.fingerprint()}"

    def stage(name: str, compute, sort_by=None) -> DataFrame:
        if store is None:
            # No durable checkpoint requested — still CUT THE PLAN.
            # Stage outputs are referenced many times downstream (pair
            # generation alone reads blocks six ways); without
            # truncation every action re-analyzes the full upstream
            # MinHash expression tree (measured: ~3s of single-threaded
            # Catalyst planning per action, ~100KB plans) and the
            # driver becomes the scaling bottleneck. Eager (one action
            # per stage): measured equal-or-faster than lazy fusion
            # here, and materialization is deterministic — a lazy
            # checkpoint referenced from both sides of a self-join can
            # duplicate partition compute in the racing first job.
            return compute().localCheckpoint(eager=True)
        return store.get_or_compute(spark, name, input_snapshot, compute,
                                    sort_by=sort_by)

    records = stage("records", lambda: normalize(files), sort_by=["id"])

    blocks = stage("blocks", lambda: make_blocks(records, cfg.bands()),
                   sort_by=["block_key", "id"])
    pairs = stage(
        "pairs",
        lambda: candidate_pairs(blocks, max_block=cfg.max_block,
                                salt_cap=cfg.salt_cap),
        sort_by=["id_a", "id_b"],
    )
    features = stage("features", lambda: build_features(records),
                     sort_by=["id"])
    scores = stage(
        "scores",
        lambda: score_pairs(pairs, features=features, threshold=cfg.threshold),
        sort_by=["id_a", "id_b"],
    )
    matches = scores.where("is_match").select("id_a", "id_b")

    components = stage(
        "components",
        lambda: with_singletons(connected_components(matches), records),
        sort_by=["id"],
    )
    resolution = stage("resolution",
                       lambda: resolve_clusters(components, records),
                       sort_by=["cluster_id", "id"])
    return PipelineResult(records, blocks, pairs, scores, components, resolution)
