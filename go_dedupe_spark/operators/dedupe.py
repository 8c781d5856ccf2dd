"""Deduplication operators for large-scale training-data pipelines.

These generalize the engine's core blocking+scoring machinery into the
standard dedup toolbox: exact (hash groupBy), MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup. All hot paths are native
Column expressions (md5/sha2/array ops -> whole-stage codegen); nothing
here is per-row Python.

Scale notes: every pair-producing operator blocks first (LSH bands,
simhash bands, or an explicit block column) AND caps dense buckets —
``minhash_lsh_pairs`` salts any band bucket larger than ``max_block``
into deterministic sub-blocks (operators/pairs.salted_rekey), so the
pair count from one bucket of n docs is bounded by ~n*salt_cap/2, never
n(n-1)/2. AQE skew-join splits residual partition skew, but AQE alone
cannot bound a quadratic pair count — the salt cap does.

Input parallelism: the per-record tokenize/hash chains (MinHash band
keys, the simhash vote, the n-gram table) run one task per input
partition. One small parquet file is one split, so ``session.spread``
hash-repartitions a narrower input on its id column to
``defaultParallelism`` first, once, decided from the plan without a
job. A scan with at least that many splits, or an input already spread
(``entry_queries._t``), is left as it is: the rule adds no exchange.
Hashing on the id also clusters the simhash vote's ``groupBy(id,
n_toks)``, so that aggregation needs no exchange of its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_dedupe_spark.functions.hashing import minhash_band_keys, token_hash64
from go_dedupe_spark.functions.similarity import (
    char_ngrams,
    set_jaccard,
    word_tokens,
)
from go_dedupe_spark.operators.pairs import block_pairs, salted_rekey
from go_dedupe_spark.session import spread


# ------------------------------------------------------------------ exact


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup via sha256 groupBy: one row per duplicated content,
    canonical_id = min id, n_dups = group size. (Ancestor: the sha
    fast-path block; reference analog is the upsert-by-id skip,
    vector/sqlite.go:273-303.)"""
    return (
        df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("content_sha256"))
        .groupBy("content_sha256")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


# ------------------------------------------------------------- MinHash+LSH


def lsh_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_rows: int = 2,
    scope_col: str | None = None,
) -> DataFrame:
    """df -> (id, block_key): one row per MinHash band of each doc's
    word tokens. ``scope_col`` (e.g. lang) prefixes every key so buckets
    never cross scopes. Every key embeds its band number, so one id
    never emits the same key twice. A narrower input is hash-spread on
    id once (``session.spread``). Lazy: callers materialize it."""
    toked = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        word_tokens(F.col(text_col)).alias("_toks"),
        *([F.col(scope_col).cast("string").alias("_scope")] if scope_col else []),
    )
    keys = minhash_band_keys(F.col("_toks"), num_hashes=num_hashes,
                             band_rows=band_rows, prefix="lsh")
    if scope_col:
        return toked.select("id", F.explode(keys).alias("k"), "_scope").select(
            "id", F.concat(F.col("_scope"), F.lit(":"), F.col("k")).alias("block_key"))
    return toked.select("id", F.explode(keys).alias("block_key"))


def lsh_pairs(keyed: DataFrame, max_block: int = 100,
              salt_cap: int = 40) -> DataFrame:
    """(id, block_key) band keys -> distinct (id_a, id_b), id_a < id_b:
    buckets larger than ``max_block`` are md5-salted into sub-blocks of
    ~``salt_cap`` members (operators/pairs.salted_rekey), then every
    (sub-)bucket is self-joined once (operators/pairs.block_pairs).
    ``keyed`` should be materialized: the salting and both join sides
    read it."""
    salted = salted_rekey(keyed, max_block=max_block, salt_cap=salt_cap)
    return block_pairs(salted).select("id_a", "id_b").distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_rows: int = 2,
    scope_col: str | None = None,
    max_block: int = 100,
    salt_cap: int = 40,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding over word tokens:
    shingle -> minhash -> band -> SKEW-CAPPED bucket self-join. Returns
    distinct (id_a, id_b) with id_a < id_b. ``scope_col`` (e.g. lang)
    prefixes every band key so buckets never cross scopes.

    A dense bucket (shared-vocabulary corpus — the mega-repo analog of
    a downtown geohash) would emit n(n-1)/2 pairs; buckets larger than
    ``max_block`` are md5-salted into sub-blocks of ~``salt_cap``
    members (operators/pairs.salted_rekey), bounding the candidate set
    at the documented cost of cross-sub-block recall.

    Building the DataFrame runs one eager job: the band-key table is
    localCheckpointed. The streaming twin
    (streaming.ingest.streaming_near_dup_pairs) runs the same
    ``lsh_band_keys`` -> ``lsh_pairs`` per micro-batch."""
    # materialize the band keys once (r7): the salting and the
    # self-join's two sides otherwise EACH recompute tokenize + minhash
    # + explode. One (id, block_key) row per band membership — a
    # bands-x-corpus-rows table of short rows, distributed executor
    # storage, freed by the session's ContextCleaner on GC.
    keyed = lsh_band_keys(df, id_col, text_col, num_hashes=num_hashes,
                          band_rows=band_rows, scope_col=scope_col)
    return lsh_pairs(keyed.localCheckpoint(eager=True),
                     max_block=max_block, salt_cap=salt_cap)


# ----------------------------------------------------------------- SimHash


def simhash_column(df: DataFrame, id_col: str, text_col: str,
                   bits: int = 16) -> DataFrame:
    """-> (id, simhash): per-bit majority vote of token md5 hashes.

    Relational shape: explode tokens -> ONE 60-bit hash per token ->
    per-bit vote columns (cheap bit ops on the single hash) -> groupBy
    id with map-side partial sums. A pure column-expression formulation
    would re-evaluate the token-hash array once per bit aggregate
    (16x the tokenizer + md5 work per row). A narrower input is
    hash-spread on id once (``session.spread``), which also clusters
    the vote: it needs no exchange.

    Zero-token docs are EXCLUDED — the explode emits no row for an
    empty token array, which IS the guard. It explodes the token-hash
    array, not the token column: exploding a bare column lets the
    optimizer infer a ``size(toks) > 0`` filter and push it below the
    spread, where it tokenizes every row a second time on the unspread
    input (an explicit ``where`` measured 2x on the whole query). SQL
    twins must carry an explicit ``len(toks) > 0`` guard (unnest
    semantics differ) or they diverge on degenerate input."""
    toked = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        word_tokens(F.col(text_col)).alias("toks"),
    )
    ex = toked.select("id", F.size("toks").alias("n_toks"),
                      F.explode(F.transform("toks", token_hash64)).alias("h"))
    votes = ex.groupBy("id", "n_toks").agg(
        *[F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"v{b}")
          for b in range(bits)]
    )
    sim = None
    for b in range(bits):
        bit = F.shiftleft((F.col(f"v{b}") * 2 > F.col("n_toks")).cast("long"), b)
        sim = bit if sim is None else sim + bit
    return votes.select("id", sim.alias("simhash"))


def simhash_duplicates(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 16) -> DataFrame:
    """Docs whose simhash collides exactly (the cheap first pass; for
    near-dup recall at small Hamming distance use
    ``simhash_hamming_pairs``). Returns (simhash, canonical_id, n_docs)."""
    return (
        simhash_column(df, id_col, text_col, bits)
        .groupBy("simhash")
        .agg(F.min("id").alias("canonical_id"), F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 8,
    max_block: int = 100,
    salt_cap: int = 40,
) -> DataFrame:
    """Near-duplicate pairs via wide SimHash + banded Hamming join —
    the standard large-corpus near-dedup (Manku et al., WWW'07 shape):

    1. 60-bit simhash per doc (per-bit token majority vote; 60 = the
       md5-prefix hash width that stays inside a signed BIGINT in both
       engines).
    2. Split into ``bands`` bands of bits/bands bits; two docs within
       Hamming distance < bands MUST agree exactly on at least one band
       (pigeonhole) -> exact-match band buckets are a complete blocking
       scheme for max_hamming <= bands - 1, and a high-recall one a bit
       beyond.
    3. Dense band buckets (e.g. the all-zeros band of short docs) are
       salt-capped like every other block in this engine.
    4. Verify: popcount(xor) <= max_hamming, native bit_count.

    Returns (id_a, id_b, hamming). Building the DataFrame runs one
    eager job: the banded simhash table is localCheckpointed."""
    width = bits // bands
    mask = (1 << width) - 1
    sim = simhash_column(df, id_col, text_col, bits=bits)
    band_keys = F.array(*[
        F.concat(
            F.lit(f"{i}:"),
            F.shiftright(F.col("simhash"), i * width)
             .bitwiseAND(F.lit(mask)).cast("string"),
        )
        for i in range(bands)
    ])
    # materialize the band keys once, as minhash_lsh_pairs does: the
    # salting reads them twice (block sizes, then the rekey join), and
    # with no exchange left after the vote each read would re-run the
    # tokenize + hash + vote.
    keyed = sim.select("id", "simhash", F.explode(band_keys).alias("block_key")) \
        .localCheckpoint(eager=True)
    salted = salted_rekey(keyed, max_block=max_block, salt_cap=salt_cap)
    return (
        block_pairs(salted, carry=("simhash",))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
             .cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ----------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact char-n-gram Jaccard on candidate pairs (distinct grams).
    candidate_pairs: (id_a, id_b). Returns (id_a, id_b, jaccard) with
    jaccard >= ``threshold``. Building the DataFrame runs one eager
    job: the per-doc gram table is localCheckpointed. A narrower input
    is hash-spread on id once (``session.spread``) before the grams.

    Every gram is hashed to a 64-bit long with Spark's native
    ``xxhash64`` BEFORE the pair join, so the per-pair shuffle carries
    8-byte ints instead of full n-char strings — a doc appearing in p
    candidate pairs ships its gram set p times, and at n=5 the hashed
    array is ~5x smaller wire weight (~10x on longer grams). The hash
    values never reach the output: Jaccard on hashed sets equals
    Jaccard on string sets up to 64-bit collisions (tested against
    Python string-gram sets). The DuckDB twin (``entry_queries``
    ``dedup_ngram_jaccard``) hashes the grams with an md5 prefix
    instead and agrees on every Jaccard value up to collisions of
    either hash."""
    gram_expr = F.array_distinct(F.transform(char_ngrams(text_col, n),
                                             lambda g: F.xxhash64(g)))
    # Materialize the gram table once (r7, guide §2.4): it feeds BOTH
    # join sides, and each side's exchange/broadcast build would
    # otherwise re-run the n-gram windows and hashes over the full
    # corpus. Same distributed-materialization policy as
    # scoring.build_features. The per-doc distinct gram count is stored
    # next to the grams for set_jaccard.
    grams = (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"), gram_expr.alias("grams"))
        .withColumn("n_grams", F.size("grams"))
        .localCheckpoint(eager=True))
    # NO manual broadcast of the gram table: the full per-doc gram
    # dimension cannot broadcast at corpus scale. Shuffle joins by
    # default; AQE converts to broadcast at runtime when the gram table
    # is measured under autoBroadcastJoinThreshold (the sf0.01/0.1 case)
    # — the same conditional policy as scoring.score_pairs.
    a = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"),
                     F.col("n_grams").alias("n_a"))
    b = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"),
                     F.col("n_grams").alias("n_b"))
    jac = set_jaccard("grams_a", "grams_b", "n_a", "n_b")
    # explicit repartition on BOTH pair ids before the CPU-heavy array
    # ops, KEPT after an r7 removal attempt: a pair row here is two
    # bare ids (~16 B) while its jaccard costs ~2x n_grams array-hash
    # ops — the most CPU-per-byte stage in the suite. AQE's size-based
    # coalescer sees the ~3 MB pair shuffle and folds it to a handful
    # of partitions, serializing that CPU (measured: removing this
    # repartition took the query from ~3.4s to ~13s at sf0.1 once the
    # gram/keyed tables were materialized). Keying on both ids; id_a
    # alone can skew when one record dominates the pair set.
    par = candidate_pairs.sparkSession.sparkContext.defaultParallelism
    return (
        candidate_pairs.repartition(par, "id_a", "id_b")
        .join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------- embedding cosine


def vec_norm_expr(v: str | Column) -> Column:
    """L2 norm of an array<numeric> column, computed once per ROW so
    pair producers do not recompute it once per pair (r7, guide §2.3
    applied to interpreted HOF cost: the higher-order-function lambdas
    are evaluated per element per call, so hoisting both norms to the
    row side cuts each pairwise cosine from 3 array passes to 1)."""
    v = F.col(v) if isinstance(v, str) else v
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine similarity of two array<numeric> columns given their
    ``vec_norm_expr`` norms, native (zip_with product + aggregate sum —
    sequential, deterministic); 0.0 unless both norms are > 0."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.9,
    max_block: int = 100,
    salt_cap: int = 40,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold. Pairs are
    generated within ``block_col`` groups (or use an LSH bucketing for
    unblocked data — see ann.cosine_topk_lsh) so the join never goes
    quadratic over the corpus, AND dense blocks are md5-salted into
    sub-blocks of ~``salt_cap`` members (operators/pairs.salted_rekey,
    the same cap every other pair generator here uses) — one mega label
    can no longer emit n(n-1)/2 pairs. With ``block_col=None`` the whole
    corpus is one block and therefore gets salted: a bounded-recall
    sub-sampling, not all-pairs — unblocked corpora should LSH-bucket
    first (ann.make_srp_bucketer) and pass the bucket as block_col."""
    if block_col is None:
        sel = emb.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("vec"),
                         F.lit("__all__").alias("block_key"))
    else:
        sel = emb.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("vec"),
                         F.col(block_col).cast("string").alias("block_key"))
    keyed = salted_rekey(sel, max_block=max_block, salt_cap=salt_cap) \
        .withColumn("vn", vec_norm_expr("vec"))
    return (
        block_pairs(keyed, carry=("vec", "vn"))
        .select("id_a", "id_b",
                F.round(cosine_from_norms(F.col("vec_a"), F.col("vec_b"),
                                          F.col("vn_a"), F.col("vn_b")),
                        6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
