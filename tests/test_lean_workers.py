"""The ER pipeline's and the ANN operators' Python processes stay lean.

The scoring kernels are Arrow UDFs and the ANN cosine kernel is a
``mapInArrow`` scan; both exchange data with Arrow through buffers
only, which keeps pandas out of the Python worker. ``get_spark`` turns
off PySpark's DataFrame-debugging call-site capture, which imports
IPython into the driver. Each check runs in a fresh one-core
subprocess, whose single reused worker ran only that check's kernels:
the session fixture's reused workers may already hold pandas from
``mapInPandas``.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})

    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.functions import arrow_udf

    from go_dedupe_spark.operators.scoring import build_features, score_pairs
    from go_dedupe_spark.session import get_spark

    spark = get_spark("lean-workers", cores=1, shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    body = "def load(path):\\n    with open(path) as fh:\\n        return fh.read()\\n"
    docs = [("a", "src/load.py", body), ("b", "lib/load.py", body + "# copy\\n"),
            ("c", "src/none.py", None), ("d", "empty.txt", ""),
            ("e", "docs/grüße.md", "Grüße aus Köln — 日本語のテキスト ✓"),
            ("f", "docs/gruesse.md", "Grüße aus Köln — 日本語 ✓ nochmal")]
    records = spark.createDataFrame(docs, "id string, path string, content string") \\
        .withColumn("content_sha256", F.sha2("content", 256))
    features = build_features(records).localCheckpoint(eager=True)
    vecs = dict(features.select("id", "ngram_vec").collect())
    assert vecs.keys() == set("abcdef") and not any(vecs["c"]), vecs["c"]
    pairs = spark.createDataFrame(
        [(a, b, "k") for i, (a, _, _) in enumerate(docs) for (b, _, _) in docs[i + 1:]],
        "id_a string, id_b string, block_key string")
    scores = score_pairs(pairs, features, threshold=0.5).collect()
    assert sum(r["decided_by"] == "full" for r in scores) >= 2, scores

    @arrow_udf("long")
    def probe(x: pa.Array) -> pa.Array:
        # the reused worker that ran the scoring kernels
        if "go_dedupe_spark.functions.similarity" not in sys.modules:
            raise RuntimeError("probe ran in a worker that did not score")
        if "pandas" in sys.modules:
            raise RuntimeError("pandas loaded in the scoring worker")
        return x

    spark.range(4).select(probe("id")).collect()
    assert "IPython" not in sys.modules, "IPython loaded in the driver"
    print("LEAN OK")
""")


_ANN_SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from go_dedupe_spark.operators.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
        train_ivf_centroids,
    )
    from go_dedupe_spark.session import get_spark

    spark = get_spark("lean-ann-worker", cores=1, shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    bulk = np.random.default_rng(3).normal(size=(24, 4)).round(3).tolist()
    rows = [(i, v) for i, v in enumerate(bulk)] + [
        (100, None),                    # NULL vector
        (101, [1.0, None, 0.0, 2.0]),   # NULL element
        (102, [0.0, 0.0, 0.0, 0.0]),    # zero vector
        (None, [0.5, 0.5, -0.5, 0.5])]  # NULL id
    items = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = items.where("vec_id % 5 = 0 OR vec_id > 100 OR vec_id IS NULL")
    cents = train_ivf_centroids(items, k=3, iters=2)
    assert cents.count() >= 1
    bf = cosine_topk_bruteforce(items, queries, k=3).collect()
    assert bf and all(r["query_id"] != r["item_id"] for r in bf), bf
    with_vec = items.where("embedding IS NOT NULL")
    lsh = cosine_topk_lsh(with_vec, queries.where("embedding IS NOT NULL"),
                          dim=4, k=3, n_bits=4).collect()
    assert lsh, lsh
    ivf = cosine_topk_ivf(items, queries, cents, k=3, nprobe=2,
                          centroid_id_col="cid").collect()
    assert ivf, ivf

    @arrow_udf("long")
    def probe(x: pa.Array) -> pa.Array:
        # the reused worker that ran the ANN kernels
        if "go_dedupe_spark.operators.ann" not in sys.modules:
            raise RuntimeError("probe ran in a worker that ran no ANN kernel")
        if "pandas" in sys.modules:
            raise RuntimeError("pandas loaded in the ANN worker")
        return x

    spark.range(4).select(probe("id")).collect()
    print("LEAN OK")
""")


def _run_lean(script: str, tmp_path: Path) -> None:
    out = subprocess.run(
        [sys.executable, "-c", script.format(repo=str(REPO))],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path))
    assert out.returncode == 0 and "LEAN OK" in out.stdout, out.stderr[-4000:]


def test_er_python_processes_load_no_pandas_or_ipython(tmp_path):
    """One-core session: ``build_features`` + ``score_pairs`` over
    records with NULL, empty and non-ASCII text, then an identity Arrow
    UDF probe in the same reused worker raises if pandas is loaded; the
    driver must not have imported IPython."""
    _run_lean(_SCRIPT, tmp_path)


def test_ann_worker_loads_no_pandas(tmp_path):
    """One-core session: ``train_ivf_centroids`` and the brute-force,
    LSH and IVF top-k over vectors with a NULL vector, a NULL element,
    a zero vector and a NULL id (LSH without the NULL vector, which it
    rejects), then an identity Arrow UDF probe in the same reused
    worker raises if pandas is loaded."""
    _run_lean(_ANN_SCRIPT, tmp_path)
