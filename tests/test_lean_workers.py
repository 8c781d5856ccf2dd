"""The ER pipeline's Python processes stay lean.

The scoring kernels are Arrow UDFs that keep pandas out of the Python
worker, and ``get_spark`` turns off PySpark's DataFrame-debugging
call-site capture, which imports IPython into the driver. Both are
checked in a fresh subprocess: the session fixture's reused workers
may already hold pandas from ``mapInPandas`` or the ANN tests.
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


def test_er_python_processes_load_no_pandas_or_ipython(tmp_path):
    """One-core session: ``build_features`` + ``score_pairs`` over
    records with NULL, empty and non-ASCII text, then an identity Arrow
    UDF probe in the same reused worker raises if pandas is loaded; the
    driver must not have imported IPython."""
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=str(REPO))],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path))
    assert out.returncode == 0 and "LEAN OK" in out.stdout, out.stderr[-4000:]
