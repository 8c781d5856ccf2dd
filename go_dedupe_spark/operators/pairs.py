"""Stage 3 — candidate pairs: ``blocks`` self-join -> ``pairs``.

Ancestor: the hand-rolled block-nested-loop join — one goroutine per
geohash, per-block temp vector DB, probe every target row
(compare/database.go:183-299 + compare/geohash.go:36-211). In Spark the
whole mechanism is ONE shuffle: self-equi-join on block_key.

Scale design (the part that must survive 100 TB):
- ``id_a < id_b`` in the join condition PREVENTS symmetric duplicates
  instead of filtering them after the fact (ancestor: the collector's
  sync.Map canonical-pair dedup, compare/database.go:156-174 — that is
  a driver-side bottleneck; this is free).
- Mega-block capping: a block with n members yields n(n-1)/2 pairs —
  a universal key (lang='javascript' + a common path shape) is the
  analog of a dense downtown geohash. Blocks larger than ``max_block``
  are EXCLUDED here and their members are instead paired through a
  salted sub-block pass: deterministic hash-salt into ceil(n/cap)
  sub-blocks, so comparisons are bounded and documented rather than
  quadratic. AQE skew-join handles residual partition skew at runtime.
- dropDuplicates((id_a, id_b)) collapses multi-band co-occurrence —
  a record pair sharing 3 band keys must score once, not thrice.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A block of n members emits n(n-1)/2 pairs. Caps are deliberately
# tight: on a 20k-row labeled corpus, (64, 32) loses only 0.24% of true
# pairs (they are rescued by the sha / content-band key families) while
# halving the candidate set vs (256, 64). The old 2000 default allowed
# 2M pairs from one dense block (shared-vocabulary paths are the
# mega-repo analog) and made scoring quadratic.
DEFAULT_MAX_BLOCK = 64
DEFAULT_SALT_CAP = 32


def salted_rekey(
    keyed: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salt_cap: int = DEFAULT_SALT_CAP,
) -> DataFrame:
    """keyed(id, block_key, ...) -> the same rows with mega-block keys
    split into deterministic md5-salted sub-blocks of ~salt_cap members,
    plus a ``salted`` flag.

    The salt hashes the STRING form of the id (``md5(CAST(id AS
    VARCHAR))`` in the DuckDB oracle), so numeric and string ids get the
    same sub-block assignment in both engines.

    Shape: block sizes via groupBy (map-side partial aggregation —
    skew-immune, unlike a window over the skewed key which would funnel
    a whole mega-block through one task), then a broadcast join of ONLY
    the mega keys (keys with n > max_block — at most corpus_size /
    max_block keys, and only if EVERY block is mega; in practice a
    handful), then a pure column rewrite. The broadcast hint is
    deliberate and MEASURED: dropping it and letting AQE pick from
    runtime sizes re-planned the whole pair DAG around an extra
    shuffle of the exploded key table and doubled every salted
    query's wall time at sf0.1 (126s vs 57s total; the AQE
    SMJ->broadcast conversion still pays the big side's shuffle
    write, and the extra stage boundary defeats downstream exchange
    reuse). No persist: the downstream self-join reads the rekeyed
    shuffle exchange twice via ReusedExchange, and the size
    aggregation's second scan of the input is cheap against a
    checkpointed stage table (callers with an expensive unmaterialized
    input should persist it themselves — they own the lifecycle)."""
    mega_sizes = F.broadcast(
        keyed.groupBy("block_key").agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_block)
    )
    joined = keyed.join(mega_sizes, "block_key", "left")
    n_salt = F.ceil(F.col("_n") / F.lit(salt_cap)).cast("long")
    salt = (
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
        .cast("long") % n_salt
    ).cast("string")
    return joined.select(
        *[c for c in keyed.columns if c != "block_key"],
        F.when(F.col("_n").isNull(), F.col("block_key"))
         .otherwise(F.concat(F.col("block_key"), F.lit("#"), salt))
         .alias("block_key"),
        F.col("_n").isNotNull().alias("salted"),
    )


def candidate_pairs(
    blocks: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salt_cap: int = DEFAULT_SALT_CAP,
) -> DataFrame:
    """blocks(block_key, block_kind, id) -> pairs(id_a, id_b, block_key,
    salted).

    Pairs from normal blocks (n <= max_block) are exact: all C(n,2).
    Pairs from mega-blocks are generated within deterministic salted
    sub-blocks of ~salt_cap members (bounded recall loss, documented in
    the ``salted`` flag — north_rule requires explicit skew splitting).
    """
    keyed = salted_rekey(blocks.select("id", "block_key"),
                         max_block=max_block, salt_cap=salt_cap)
    return block_pairs(keyed).dropDuplicates(["id_a", "id_b"])


def block_pairs(keyed: DataFrame, carry: Sequence[str] = ()) -> DataFrame:
    """keyed(id, block_key, salted, *carry) -> pairs(id_a, id_b,
    block_key, salted, {c}_a, {c}_b for each carried column): every
    same-block pair once, ``id_a < id_b``. The one block self-join of
    every pair generator; callers dedupe pairs that share several
    blocks themselves."""
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.id") < F.col("b.id")),  # F4 + A2: self & symmetric dedup
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.block_key").alias("block_key"),
            F.col("a.salted").alias("salted"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
    )
