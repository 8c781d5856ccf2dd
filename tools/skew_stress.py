"""Skew stress run (VERDICT r5 missing #4): wall-time + partition-size
evidence that the salt split bounds the largest task on a
pathologically skewed corpus — the scale hazard the reference hits on
dense geohashes (README.md:34-45, one downtown cell holding most of a
city) and a 100 TB text corpus hits on boilerplate templates.

Fixture: the sf0.1 documents table replicated 12x (60k rows, unique
ids), with 90% of rows rewritten to ONE shared boilerplate template
(plus a tiny per-row suffix so rows are distinct but every LSH band
bucket collapses onto the template). Deterministic: pure doc_id
arithmetic, no randomness.

Two operators, each timed end-to-end (noop sink):
- minhash_lsh_pairs over the skewed text (mega LSH buckets),
- candidate_pairs over a 90%-one-key blocks table (mega equi-block).

Prints one JSON line; the committed numbers live in BENCH.md.

    python tools/skew_stress.py            # sf0.1 base, every CPU
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPL = 12            # 5k base rows -> 60k
SKEW_PCT = 90        # % of rows on the shared template


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

    from pyspark.sql import functions as F

    from go_dedupe_spark.operators.dedupe import minhash_lsh_pairs
    from go_dedupe_spark.operators.pairs import candidate_pairs, salted_rekey
    from go_dedupe_spark.session import get_spark

    spark = get_spark("skew-stress", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = base.count()
    boiler = ("this software is provided as is without warranty of any "
              "kind express or implied including but not limited to the "
              "warranties of merchantability fitness for a particular "
              "purpose and noninfringement in no event shall the authors "
              "be liable for any claim damages or other liability")
    docs = (
        base.crossJoin(spark.range(REPL).select(F.col("id").alias("_r")))
        .select(
            (F.col("doc_id") + F.col("_r") * F.lit(n_base * 10)).alias("doc_id"),
            F.col("text"), F.col("lang"))
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 100 < SKEW_PCT,
                   F.concat(F.lit(boiler), F.lit(" tail"),
                            F.col("doc_id").cast("string")))
            .otherwise(F.col("text")))
        .repartition(cores)
        .localCheckpoint(eager=True)       # fixture cost out of the timings
    )
    n_rows = docs.count()
    n_skew = docs.where(F.col("doc_id") % 100 < SKEW_PCT).count()

    out: dict = {"metric": "skew_stress", "unit": "sec", "rows": n_rows,
                 "skewed_rows": n_skew, "cores": cores, "sf_base": sf_dir}

    # ---- 1. minhash LSH near-dup pairs over the skewed text
    t0 = time.monotonic()
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    force(pairs)
    out["minhash_lsh_wall"] = round(time.monotonic() - t0, 3)
    out["minhash_lsh_pairs"] = pairs.count()

    # ---- 2. candidate_pairs over a 90%-one-key blocks table
    blocks = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.when(F.col("doc_id") % 100 < SKEW_PCT, F.lit("mega"))
        .otherwise(F.concat(F.lit("k"), (F.col("doc_id") % 997).cast("string")))
        .alias("block_key"))
    t0 = time.monotonic()
    cp = candidate_pairs(blocks)
    force(cp)
    out["candidate_pairs_wall"] = round(time.monotonic() - t0, 3)
    out["candidate_pairs"] = cp.count()
    out["unsalted_would_be_pairs"] = n_skew * (n_skew - 1) // 2

    # ---- evidence: the salt split bounded group and partition sizes
    rekeyed = salted_rekey(blocks)
    sizes = rekeyed.groupBy("block_key").count()
    out["max_salted_group"] = sizes.agg(F.max("count")).first()[0]
    hist = (rekeyed.repartition(cores, "block_key")
            .groupBy(F.spark_partition_id().alias("pid")).count().collect())
    counts = sorted((r["count"] for r in hist), reverse=True)
    out["partition_rows_max"] = counts[0]
    out["partition_rows_mean"] = round(sum(counts) / len(counts), 1)
    out["partition_rows_top5"] = counts[:5]

    print(json.dumps(out))


if __name__ == "__main__":
    main()
