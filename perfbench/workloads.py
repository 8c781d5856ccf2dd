"""The two closed-loop workloads: one job at a time, each against the
library's public API, each followed by its correctness checks.

A workload's ``job`` is the timed unit; set-up runs it once, untimed, on
a smaller input of another seed. ``check`` runs untimed right after a
job and returns (failures, quality, info). ``counts`` runs only in the
traced run: it reads layer counters off the job's outputs and, for
``er_pipeline``, replays the job's checkpoint writes and reads so the
store's own cost is timed apart from the stage compute.
"""

from __future__ import annotations

import inspect
import shutil
import time
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from go_dedupe_spark.operators import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
)
from go_dedupe_spark.operators.ann import make_srp_bucketer, train_ivf_centroids
from go_dedupe_spark.plans import CheckpointStore, PipelineConfig, run_pipeline

import checks
import inputs

NGRAM_N, NGRAM_T = 5, 0.5
JACCARD_SAMPLE = 200
TOPK = 10
IVF_CENTROIDS, IVF_ITERS = 16, 3
# stages a crash right after ``features`` has not yet checkpointed
RESUME_TAIL = ("scores", "components", "resolution")


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class ErPipeline:
    name = "er_pipeline"
    why = ("one synth corpus through run_pipeline without a store (the main "
           "job), then a cold checkpointed run and a crash-resume that "
           "recomputes scores, components and resolution")

    def __init__(self, store_root: Path):
        self.store_root = store_root
        self.n_jobs = 0

    def make_input(self, out: Path, seed: int, scale: float) -> inputs.Input:
        return inputs.files_corpus(out, max(60, int(inputs.ER_ROWS * scale)),
                                   seed)

    def _crash_after_features(self, store: Path) -> None:
        for stage in RESUME_TAIL:
            for path in store.glob(f"{stage}@*"):
                if path.is_dir():
                    shutil.rmtree(path)
                else:
                    path.unlink()

    def job(self, spark, inp, tracer) -> dict:
        """Batch run, cold checkpointed run, crash, resume. A fresh store
        directory per job; the previous job's store is deleted first."""
        self.n_jobs += 1
        shutil.rmtree(self.store_root, ignore_errors=True)
        store = self.store_root / f"job{self.n_jobs}"
        cfg = PipelineConfig()
        path = str(inp.paths["files"])
        t0 = time.monotonic()
        with tracer.pipeline(stage_spans=True):
            batch = run_pipeline(spark, spark.read.parquet(path), cfg)
        batch_resolution = batch.resolution.toPandas()
        t1 = time.monotonic()
        with tracer.pipeline():
            run_pipeline(spark, spark.read.parquet(path), cfg,
                         store=CheckpointStore(store), input_snapshot="bench")
        t2 = time.monotonic()
        stored = dir_bytes(store)
        self._crash_after_features(store)
        with tracer.pipeline():
            resumed = run_pipeline(spark, spark.read.parquet(path), cfg,
                                   store=CheckpointStore(store),
                                   input_snapshot="bench")
        resumed_resolution = resumed.resolution.toPandas()
        t3 = time.monotonic()
        return {"batch": batch, "resolution": batch_resolution,
                "resumed": resumed, "resumed_resolution": resumed_resolution,
                "store": store, "stored": stored,
                "batch_s": t1 - t0, "ckpt_run_s": t2 - t1,
                "resume_s": t3 - t2}

    def check(self, spark, inp, out, seen: dict) -> tuple[list[str], float, dict]:
        res, resolution = out["batch"], out["resolution"]
        pairs = res.pairs.select("id_a", "id_b").toPandas()
        matches = res.scores.where("is_match").select("id_a", "id_b").toPandas()
        f1 = checks.pair_f1(inp.truth["labeled"], pairs, matches)
        fails = checks.check_components(list(inp.truth["files"]["id"]),
                                        matches, res.components.toPandas())
        if f1 < checks.F1_FLOOR:
            fails.append(f"pair F1 {f1:.4f} < {checks.F1_FLOOR}")
        if set(resolution["id"]) != set(inp.truth["files"]["id"]):
            fails.append("resolution does not cover every input record")
        # the same seed must give the same clusters on every job and run
        digest = checks.resolution_checksum(resolution)
        key = f"{inp.paths['files'].parent.name}:{inp.n_items}"
        if seen.setdefault(key, digest) != digest:
            fails.append("cluster checksum differs from an earlier run "
                         "of this seed")
        if (checks.resolution_rows(out["resumed_resolution"])
                != checks.resolution_rows(resolution)):
            fails.append("resumed resolution differs from the "
                         "uncheckpointed run on the same input")
        return fails, f1, {
            "batch_s": out["batch_s"], "ckpt_run_s": out["ckpt_run_s"],
            "resume_s": out["resume_s"],
            "stored_bytes_per_input_byte": out["stored"] / inp.bytes,
        }

    def replay_checkpoints(self, spark, out, tracer) -> None:
        """Time the checkpoint store alone, under the ``checkpoint.write``
        and ``checkpoint.read`` spans: every write the cold run made,
        redone into a fresh store from the stage table already in memory
        (so no stage compute runs inside the span), and every read the
        resume made, scanned in full (the pipeline's own reads are lazy
        and run inside the next stage)."""
        store = CheckpointStore(out["store"])
        replay = CheckpointStore(self.store_root / "replay")
        for stage, (snapshot, sort_by) in tracer.ckpt_writes.items():
            table = store.read(spark, stage, snapshot).localCheckpoint(
                eager=True)
            with tracer.span("checkpoint.write"):
                replay.write(table, stage, snapshot, sort_by=sort_by)
        for stage, snapshot in tracer.ckpt_reads:
            with tracer.span("checkpoint.read"):
                store.read(spark, stage, snapshot).write.format("noop") \
                    .mode("overwrite").save()

    def counts(self, spark, inp, out, tracer) -> dict:
        """Layer counters, read off the storeless run's materialized stage
        tables, and the checkpoint replay (only the traced run pays for
        these jobs)."""
        self.replay_checkpoints(spark, out, tracer)
        res = out["batch"]
        scores = res.scores
        n_scores = scores.count()
        n_pairs = res.pairs.count()
        block_sizes = res.blocks.groupBy("block_key").count()
        return {
            "blocking.rows_out": res.blocks.count(),
            "blocking.max_block_n": block_sizes.agg(F.max("count")).first()[0],
            "pairs.candidates": n_pairs,
            "pairs.salted_share":
                res.pairs.where("salted").count() / max(1, n_pairs),
            "scoring.floor_reject_ratio":
                scores.where(F.col("decided_by") == "jaccard_floor").count()
                / max(1, n_scores),
            "components.edges": scores.where("is_match")
                .select("id_a", "id_b").distinct().count(),
            # 0: the driver union-find ran, 1: the distributed star loop
            "components.path": 0 if tracer.counts.get("cc_driver_calls") else 1,
            "resolve.clusters":
                res.resolution.select("cluster_id").distinct().count(),
            "checkpoint.bytes_written": out["stored"],
            "checkpoint.stored_bytes_per_input_byte": out["stored"] / inp.bytes,
        }


class NearDupAnn:
    name = "near_dup_ann"
    why = ("the dedup and ANN operators: minhash LSH then 5-gram Jaccard "
           "and simhash on a dup-heavy corpus, then k-means IVF build and "
           "brute-force, LSH and IVF top-10")

    def make_input(self, out: Path, seed: int, scale: float) -> inputs.Input:
        docs = inputs.near_dup_docs(
            out, max(60, int(inputs.NEAR_DUP_ROWS * scale)), seed)
        vecs = inputs.ann_vectors(
            out, max(200, int(inputs.ANN_ITEMS * scale)), seed)
        return inputs.Input({**docs.paths, **vecs.paths},
                            docs.n_items + vecs.n_items,
                            docs.bytes + vecs.bytes,
                            {**docs.truth, **vecs.truth})

    def job(self, spark, inp, tracer) -> dict:
        t0 = time.monotonic()
        docs = spark.read.parquet(str(inp.paths["docs"]))
        with tracer.span("minhash_lsh"):
            cand = minhash_lsh_pairs(docs, scope_col="lang") \
                .localCheckpoint(eager=True)
        with tracer.span("ngram_jaccard"):
            kept = ngram_jaccard_pairs(docs, cand, n=NGRAM_N,
                                       threshold=NGRAM_T).toPandas()
        with tracer.span("simhash_hamming"):
            sim = simhash_hamming_pairs(docs).toPandas()
        t1 = time.monotonic()
        items = spark.read.parquet(str(inp.paths["items"]))
        queries = spark.read.parquet(str(inp.paths["queries"]))
        with tracer.span("ann.train"):
            cents = train_ivf_centroids(items, k=IVF_CENTROIDS,
                                        iters=IVF_ITERS)
        t2 = time.monotonic()
        with tracer.span("ann.bruteforce"):
            bf = cosine_topk_bruteforce(items, queries, k=TOPK).toPandas()
        with tracer.span("ann.lsh"):
            lsh = cosine_topk_lsh(items, queries, dim=inputs.ANN_DIM,
                                  k=TOPK).toPandas()
        with tracer.span("ann.ivf"):
            ivf = cosine_topk_ivf(items, queries, cents, k=TOPK,
                                  centroid_id_col="cid").toPandas()
        t3 = time.monotonic()
        return {"cand": cand, "kept": kept, "sim": sim,
                "bf": bf, "lsh": lsh, "ivf": ivf, "near_dup_s": t1 - t0,
                "ann_build_s": t2 - t1, "ann_query_s": t3 - t2}

    def check(self, spark, inp, out, seen: dict) -> tuple[list[str], float, dict]:
        rng = np.random.default_rng(len(out["kept"]))
        fails = checks.check_ngram_sample(out["kept"], inp.truth["text"],
                                          NGRAM_N, NGRAM_T, JACCARD_SAMPLE, rng)
        if len(out["kept"]) == 0 or len(out["sim"]) == 0:
            fails.append("near_dup found no pairs")
        vecs, qids = inp.truth["vecs"], inp.truth["qids"]
        want = checks.exact_topk(vecs, qids, TOPK)
        fails += checks.check_topk(checks.topk_lists(out["bf"]), want, vecs)
        near = checks.labeled_recall(inp.truth["labeled"], out["kept"])
        lsh = checks.recall_at_k(checks.topk_lists(out["lsh"]), want)
        ivf = checks.recall_at_k(checks.topk_lists(out["ivf"]), want)
        # one quality figure: the product, so a relative drop in any one
        # recall moves it by the same relative amount
        return fails, near * lsh * ivf, {
            "near_dup_s": out["near_dup_s"], "ann_build_s": out["ann_build_s"],
            "ann_query_s": out["ann_query_s"], "near_dup_recall": near,
            "lsh_recall_at_10": lsh, "ivf_recall_at_10": ivf,
        }

    def counts(self, spark, inp, out, tracer) -> dict:
        """Candidate counts, and the share of (query, item) pairs the LSH
        path scores: items in a query's bucket or a Hamming-1 neighbour
        (``cosine_topk_lsh``'s multiprobe), bucketed by the library's own
        bucketer at its default width."""
        n_cand = out["cand"].count()
        vecs, qids = inp.truth["vecs"], inp.truth["qids"]
        n_bits = inspect.signature(cosine_topk_lsh).parameters["n_bits"].default
        bucket = make_srp_bucketer(inputs.ANN_DIM, n_bits)
        rows = spark.read.parquet(str(inp.paths["items"])) \
            .select("vec_id", bucket("embedding").alias("b")).toPandas()
        buckets = rows.sort_values("vec_id")["b"].to_numpy()
        scored = 0
        for q in qids:
            probes = {buckets[q]} | {buckets[q] ^ (1 << b)
                                     for b in range(n_bits)}
            scored += int(np.isin(buckets, list(probes)).sum()) - 1
        _, _, info = self.check(spark, inp, out, {})
        return {"minhash_lsh.candidates": n_cand,
                "ngram_jaccard.kept_ratio": len(out["kept"]) / max(1, n_cand),
                "ann.lsh_scored_ratio": scored / (len(qids) * len(vecs)),
                "ann.lsh_recall_at_10": info["lsh_recall_at_10"],
                "ann.ivf_recall_at_10": info["ivf_recall_at_10"]}


def make(name: str, work: Path):
    if name == "er_pipeline":
        return ErPipeline(work / "stores")
    return NearDupAnn()
