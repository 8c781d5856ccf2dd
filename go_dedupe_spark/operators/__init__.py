"""Pipeline stage operators.

Each stage is a pure DataFrame -> DataFrame function — the Spark
equivalent of the reference's URI-registry plugin seams
(location/parser.go, location/database.go, iterator/iterator.go,
embeddings/embedder.go, vector/database.go): interface boundaries
become function boundaries; configuration is plain arguments.
"""

from go_dedupe_spark.operators.normalize import normalize  # noqa: F401
from go_dedupe_spark.operators.blocking import block_histogram, make_blocks  # noqa: F401
from go_dedupe_spark.operators.pairs import candidate_pairs  # noqa: F401
from go_dedupe_spark.operators.scoring import score_pairs  # noqa: F401
from go_dedupe_spark.operators.components import connected_components  # noqa: F401
from go_dedupe_spark.operators.resolve import resolve_clusters  # noqa: F401
from go_dedupe_spark.operators.pairs import salted_rekey  # noqa: F401
from go_dedupe_spark.operators.scoring import build_features, top_k_matches  # noqa: F401
from go_dedupe_spark.operators.resolve import match_table  # noqa: F401
from go_dedupe_spark.operators.dedupe import (  # noqa: F401
    embedding_cosine_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_column,
    simhash_duplicates,
    simhash_hamming_pairs,
)
from go_dedupe_spark.operators.ann import (  # noqa: F401
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    matryoshka_truncate,
    quantize_binary_expr,
)
