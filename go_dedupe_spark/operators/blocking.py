"""Stage 2 — blocking: ``records`` -> exploded ``blocks`` table.

Ancestor: the geohash blocking key (precision 5 ~ 2.4 km cells,
location/location.go:14-15, 67-77; README.md:34-45 explains it as THE
core optimization — only same-block pairs are ever compared).

Every record gets one ``sha`` key — lang + sha256(content) 12-hex
prefix, the exact-duplicate fast path: any two byte-identical contents
land in one block. On top of it, each *band* spec adds MinHash-band
keys over one token column, lang-scoped so unrelated languages never
pair. A record explodes into one row per band key — the multi-key
generalization README.md:44-45 foreshadows with variable-precision
geohashes. The library pipeline bands path tokens (``mh``, recall on
renamed/moved files) and content words (``cmh``, near-dup content
under heavy path divergence); the entry queries band content words and
3-word shingles.

Output: blocks(id string, block_key string, block_kind string).
Everything is built-in Columns (md5/sha2/transform/array) — no UDFs,
full whole-stage codegen; the explode is Catalyst's generator node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_dedupe_spark.functions.hashing import minhash_band_keys

SHA_PREFIX_LEN = 12

# (prefix, token Column, num_hashes, band_rows) — the prefix doubles as
# the rows' block_kind
Band = tuple[str, Column, int, int]


def _lang_scoped(kind: str):
    # a closure factory, not ``lambda k, kind=kind``: transform() reads
    # the lambda's arity and would pass the array index as ``kind``
    return lambda k: F.struct(
        F.concat(F.col("lang"), F.lit(":"), k).alias("block_key"),
        F.lit(kind).alias("block_kind"),
    )


def make_blocks(records: DataFrame, bands: Sequence[Band]) -> DataFrame:
    """records(id, lang, content_sha256, ...) -> blocks(id, block_key,
    block_kind), exploded: the sha key plus every band's keys."""
    # materialize each band's tokens as a column first: an inline token
    # expression would re-evaluate once per signature permutation
    toks = records.select(
        "id", "lang", "content_sha256",
        *[t.alias(f"_toks{i}") for i, (_, t, _, _) in enumerate(bands)],
    )
    sha_key = F.concat(
        F.lit("sha:"), F.col("lang"), F.lit(":"),
        F.substring(F.col("content_sha256"), 1, SHA_PREFIX_LEN),
    )
    keys = [F.array(F.struct(sha_key.alias("block_key"),
                             F.lit("sha").alias("block_kind")))]
    for i, (prefix, _, num_hashes, band_rows) in enumerate(bands):
        band_keys = minhash_band_keys(F.col(f"_toks{i}"), num_hashes=num_hashes,
                                      band_rows=band_rows, prefix=prefix)
        keys.append(F.transform(band_keys, _lang_scoped(prefix)))
    # no dropDuplicates: every key embeds its family and band number
    # (sha: / {prefix}:{band}:), so one record cannot emit the same
    # block_key twice — a dedup here would be a full no-op shuffle
    return (
        toks.select("id", F.explode(F.concat(*keys)).alias("k"))
        .select("id", "k.block_key", "k.block_kind")
    )


def block_histogram(blocks: DataFrame) -> DataFrame:
    """block_key -> member count, biggest first.

    Ancestor: ``SELECT geohash, COUNT(id) ... GROUP BY geohash ORDER BY
    count DESC`` (location/sql.go:149-184). The reference used it for
    biggest-blocks-first work stealing; here it feeds skew diagnostics
    and the mega-block cap in candidate_pairs.
    """
    return (
        blocks.groupBy("block_key")
        .agg(F.count("id").alias("n_ids"))
        .orderBy(F.desc("n_ids"), "block_key")
    )
