"""Seeded benchmark inputs, written to parquet before any timing starts.

The program only ever sees the parquet files: each job rereads them, so
no job reuses another job's cached input.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from go_dedupe_spark.synth import generate

# Full-size shapes. On 4 cores one job takes 17-35 s and a whole run
# (JVM start, cold warm-up, one job, checks) 44-91 s, depending on the
# host's load. Runs of ~71 s already fill the benchmark's time budget,
# so the inputs stay small: 2000 near-dup docs made the job 31-35 s
# instead of ~20 s, and 2000 ER files 27-31 s instead of ~18 s. The
# warm-up's cost hardly depends on its size: it is mostly the first-run
# cost of a fresh JVM.
# In a traced er_pipeline job blocking, pairs, features and scoring take
# ~80% of the storeless run's stage wall time; in near_dup_ann
# ngram_jaccard is the largest near-dup layer (~47% of it). Cores are
# busy only 10-35% of the time in every layer but scoring, so fixed
# per-job Spark costs are a large part of each layer.
ER_ROWS = 1000
NEAR_DUP_ROWS = 1000
NEAR_DUP_FRACTION = 0.7          # default synth is 0.35: more candidates per doc
# Many small tight clusters and 256 queries: LSH recall@10 (~0.83) then
# varies across seeds by ~3% (IQR / median) rather than the ~13% of a
# few wide clusters, where it hangs on how the fixed projections cut
# each cluster. 3000 items keep the brute-force cross join near 0.8M
# pairs; at 6000 items it took a third of the job.
ANN_ITEMS = 3000
ANN_DIM = 32
ANN_CLUSTERS = 128
ANN_QUERIES = 256
ANN_NOISE = 0.15
WARMUP_SHARE = 0.25             # warm-up input size relative to the timed one


def input_seed(workload: str, seed: int, role: str) -> int:
    """Distinct, reproducible generator seed per (workload, seed, role):
    the warm-up never sees the timed input."""
    return zlib.crc32(f"{workload}:{role}:{seed}".encode())


@dataclass
class Input:
    paths: dict[str, Path]
    n_items: int
    bytes: int
    truth: dict


def _write(df: pd.DataFrame, path: Path) -> int:
    df.to_parquet(path, index=False)
    return path.stat().st_size


def files_corpus(out: Path, n_rows: int, seed: int) -> Input:
    """synth files table at the default shape + its labeled pairs (the
    ground truth stays on the benchmark side)."""
    corpus = generate(n_rows=n_rows, seed=seed)
    files = out / "files.parquet"
    size = _write(corpus.files[["repo", "path", "commit", "lang", "content"]],
                  files)
    return Input({"files": files}, len(corpus.files), size,
                 {"labeled": corpus.labeled_pairs, "files": corpus.files})


def near_dup_docs(out: Path, n_rows: int, seed: int) -> Input:
    """synth corpus with a higher duplicate share, as (doc_id, lang, text)."""
    corpus = generate(n_rows=n_rows, seed=seed, dup_fraction=NEAR_DUP_FRACTION)
    docs = corpus.files.rename(columns={"id": "doc_id", "content": "text"})
    path = out / "docs.parquet"
    size = _write(docs[["doc_id", "lang", "text"]], path)
    return Input({"docs": path}, len(docs), size,
                 {"labeled": corpus.labeled_pairs,
                  "text": dict(zip(docs["doc_id"], docs["text"]))})


def ann_vectors(out: Path, n_items: int, seed: int) -> Input:
    """Clustered unit-scale vectors plus a query set drawn from them."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(ANN_CLUSTERS, ANN_DIM))
    labels = rng.integers(0, ANN_CLUSTERS, size=n_items)
    vecs = centers[labels] + ANN_NOISE * rng.normal(size=(n_items, ANN_DIM))
    ids = np.arange(n_items, dtype="int64")
    n_q = min(ANN_QUERIES, n_items // 4)
    qids = np.sort(rng.choice(n_items, size=n_q, replace=False))
    items_path, queries_path = out / "items.parquet", out / "queries.parquet"
    size = _write(pd.DataFrame({"vec_id": ids, "embedding": list(vecs)}),
                  items_path)
    size += _write(pd.DataFrame({"vec_id": ids[qids],
                                 "embedding": list(vecs[qids])}), queries_path)
    return Input({"items": items_path, "queries": queries_path}, n_items,
                 size, {"vecs": vecs, "qids": qids})
