"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Without $SPARK_GRAFT_CPUS the cores are the CPUs this process may run
on; ``cores`` reports Spark's defaultParallelism.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect). See bench_scaling.py for the N-vs-4N parallelism run
(BENCH.md)."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "er_scores",
    "er_components",
    "er_components_dist",
    "dedup_minhash_lsh",
    "dedup_simhash_hamming",
    "dedup_ngram_jaccard",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ivf_kmeans_centroids",
    "dedup_embedding_cosine",
    "ann_topk_bruteforce",
    "agg_pricing_summary",
    "join_revenue_top10",
    "window_topk_orders",
    "events_hourly_rollup",
    "text_quality",
    "text_fingerprint",
]


# Committed calm-window reference (BENCH_r05, sf0.1, local[32]). Per-
# query ratios against it make the two documented noise signatures
# machine-readable in each round's BENCH JSON (BENCH.md): hypervisor
# steal slows everything PROPORTIONALLY (ratios uniform), a stray
# pinned worker or a real regression hits SELECTIVELY (ratio spread).
# Queries without a reference row (new this round) report no ratio.
REFERENCE = {
    "er_scores": 7.77, "er_components": 10.437,
    # er_components_dist entered the headline set in r6; its reference
    # is the min of the three committed r6 windows (BENCH.md), the same
    # calm-window convention the r5 rows use
    "er_components_dist": 7.531,
    "dedup_minhash_lsh": 3.954,
    "dedup_simhash_hamming": 8.103, "dedup_ngram_jaccard": 6.617,
    "ann_topk_lsh": 2.219, "ann_topk_ivf": 2.813,
    "ivf_kmeans_centroids": 5.356, "dedup_embedding_cosine": 1.479,
    "ann_topk_bruteforce": 1.036, "agg_pricing_summary": 0.655,
    "join_revenue_top10": 2.445, "window_topk_orders": 0.746,
    "events_hourly_rollup": 0.535, "text_quality": 1.307,
    "text_fingerprint": 1.543,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def noise_signature(timings: dict[str, float]) -> dict:
    """Ratio-to-reference per query plus the signature summary: the
    median ratio reads as overall window speed vs the committed r5
    wall, and the max/median spread separates proportional (steal,
    spread ~1) from selective (contention or regression, spread >> 1)
    slowdowns."""
    import statistics

    ratios = {q: round(timings[q] / REFERENCE[q], 3)
              for q in timings if q in REFERENCE and REFERENCE[q] > 0}
    if not ratios:
        return {"ratios": {}}
    vals = sorted(ratios.values())
    # true median (even-length lists average the middle pair — vals[n//2]
    # would over-read a half-selective slowdown as proportional), plus
    # BOTH tails so selective speedups are visible too (review r6)
    median = statistics.median(vals)
    return {
        "ratios": ratios,
        "ratio_median": round(median, 3),
        "ratio_spread": round(max(vals) / median, 3) if median else None,
        "ratio_min": round(min(vals), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from go_dedupe_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    # Warmup outside the timed region: a tiny-SF run of the first
    # headline query pays whole-stage-codegen JIT + python-worker fork
    # (pandas import per worker) on the REAL plan shapes — without it
    # the first timed query absorbs ~5-10s of one-time cost.
    warm_dir = str(Path(sf_dir).parent / "sf0.001")
    if not Path(warm_dir).exists():
        warm_dir = sf_dir
    force(queries["er_scores"](spark, warm_dir))
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = queries[name]
        t0 = time.monotonic()
        force(fn(spark, sf_dir))
        dt = time.monotonic() - t0
        timings[name] = round(dt, 3)
        total += dt

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": spark.sparkContext.defaultParallelism,
    }
    out.update(noise_signature(timings))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
