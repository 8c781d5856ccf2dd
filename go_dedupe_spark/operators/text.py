"""Text-analysis operators for training-data pipelines.

All native Column expressions (regexp/array ops) — language ID, quality
scoring, token counting, document fingerprinting. Deterministic and
oracle-checkable (every expression has a DuckDB-SQL twin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_dedupe_spark.functions.similarity import token_shingles, word_tokens

# Fixed stopword markers per language — a tiny deterministic n-gram/
# stopword heuristic; real deployments swap in fastText etc. via the
# same column contract.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "von", "mit", "ist", "den"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "it", "on", "as", "at", "by"]


def token_count(text_col: str | Column) -> Column:
    """Whitespace-split token count (native)."""
    return F.size(word_tokens(text_col, lowercase=False))


def bpe_ish_piece_count(text_col: str) -> Column:
    """A BPE-ish proxy token count: word pieces after splitting words
    longer than 6 chars into 4-char chunks (cheap deterministic stand-in
    for a real tokenizer's piece count)."""
    toks = word_tokens(text_col, lowercase=False)
    pieces = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(F.length(t) <= 6, 1).otherwise(
            F.ceil(F.length(t) / 4).cast("int")
        ),
    )
    return pieces


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, mean_token_len, punct_ratio, stopword_ratio and a
    combined quality score in [0,1]."""
    # materialize tokens once; the feature columns reference them ~4x
    df = df.withColumn("_q_toks", word_tokens(F.col(text_col)))
    toks = F.col("_q_toks")
    n_tok = F.size(toks)
    text_len = F.length(F.col(text_col))
    alnum_len = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9\s]", ""))
    punct_ratio = F.when(text_len > 0, (text_len - alnum_len) / text_len).otherwise(0.0)
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks),
                                         F.array(*[F.lit(w) for w in STOPWORDS_EN])))
    stop_ratio = F.when(n_tok > 0, stop_hits / F.least(n_tok, F.lit(len(STOPWORDS_EN)))).otherwise(0.0)
    mean_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_tok,
    ).otherwise(0.0)
    quality = (
        F.least(n_tok / F.lit(64.0), F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 2, F.lit(1.0)) * 0.3
    )
    return df.select(
        *[c for c in df.columns if c != "_q_toks"],
        n_tok.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def lang_id(text_col: str = "text") -> Column:
    """Deterministic marker-word language guess: argmax of per-language
    marker hits (ties -> lexicographically smallest language code)."""
    toks = F.array_distinct(word_tokens(F.col(text_col)))
    scored = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias("hits"),
            # negate code ordering so array_max's tiebreak picks smallest code
            F.lit(code).alias("code"),
        )
        for code, ws in sorted(LANG_MARKERS.items())
    ]
    arr = F.array(*scored)
    best = F.aggregate(
        arr,
        F.struct(F.lit(-1).alias("hits"), F.lit("zz").alias("code")),
        lambda acc, s: F.when(s["hits"] > acc["hits"], s).otherwise(acc),
    )
    return best["code"]


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", shingle_n: int = 4) -> DataFrame:
    """Document fingerprint: min + max md5 over word-shingles (a
    deterministic rolling-hash winnowing-lite) plus distinct-shingle
    count — enough to detect containment/overlap candidates cheaply.

    Shape notes:
    - tokens are materialized as a COLUMN before shingling: an inline
      tokenizer expression inside the shingle transform() lambda would
      be re-evaluated once PER ARRAY ELEMENT (regexp split x ~50/row);
    - map-only (r7): array_min / array_max / size over the hashed
      distinct-shingle array replace the earlier explode -> groupBy
      round trip — whole-stage codegen's subexpression elimination
      evaluates the shared hashed array ONCE per row, and the shuffle
      of one md5 row per (doc, shingle) disappears outright (guide
      §2.4). Every non-NULL doc emits >= 1 shingle (short docs collapse
      to one whole-array shingle);
    - NULL text emits no row, as the explode path did. Its tokens are
      NULL exactly when the text is, so the toks IS NOT NULL guard is
      written on the text column: a filter on the token expression
      would be pushed below the projection and tokenize every row
      twice."""
    toked = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        word_tokens(F.col(text_col)).alias("toks"),
    )
    sh = token_shingles(F.col("toks"), n=shingle_n)
    hashed = F.transform(F.array_distinct(sh), lambda s: F.md5(s))
    return toked.select(
        "id",
        F.array_min(hashed).alias("fp_min"),
        F.array_max(hashed).alias("fp_max"),
        F.size(hashed).cast("long").alias("n_shingles"),
    )
