"""Column-expression builders and vectorized UDFs.

Design rule (north_rule / input_hint): NO per-row Python. Everything is
either a native Column expression (JVM-side, whole-stage codegen) or an
Arrow UDF over ``pa.Array`` batches. Native expressions are strongly
preferred — they are also what makes query results reproducible in the
DuckDB correctness oracle (md5/sha256 are bit-identical across engines).
"""

from go_dedupe_spark.functions.edtf import (  # noqa: F401
    edtf_is_deprecated,
    edtf_is_deprecated_strict,
    edtf_sort_key,
)
from go_dedupe_spark.functions.hashing import (  # noqa: F401
    content_sha256,
    minhash_band_keys,
    minhash_signature,
    path_tokens,
    record_id_expr,
    token_hash64,
)
from go_dedupe_spark.functions.metadata import (  # noqa: F401
    metadata_canonical,
    metadata_union,
)
from go_dedupe_spark.functions.similarity import (  # noqa: F401
    char_ngrams,
    hashed_ngram_vector_udf,
    set_jaccard,
    token_shingles,
    word_tokens,
)
