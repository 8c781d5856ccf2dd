"""go_dedupe_spark — a PySpark-native record-linkage / dedupe engine.

A from-scratch rebuild of the capabilities of whosonfirst/go-dedupe
(reference at /root/reference, snapshot 2024-10-22) as an idiomatic
Spark DataFrame pipeline: normalize -> block -> candidate pairs ->
pairwise scores -> threshold -> transitive clustering -> resolution.

The reference's domain is places (venues); per the build contract the
payload domain here is source-code file records
(repo, path, commit, lang, content), but every stage has a 1:1
semantic ancestor in the reference (see SURVEY.md for file:line maps).

Package layout
--------------
- ``session``    SparkSession builders tuned for the pipeline
- ``synth``      deterministic synthetic ``files`` corpus + labeled pairs
- ``operators``  the pipeline stages (normalize, blocking, pairs,
                 scoring, components, resolve) plus the training-data
                 operators (dedupe, ann, text, multimodal)
- ``functions``  column-expression builders + vectorized Arrow UDFs
- ``sources``    readers for the reference's source formats
- ``plans``      checkpointing / lineage / resume + the end-to-end plan
- ``streaming``  Structured Streaming ingest (foreachBatch into normalize)
"""

__version__ = "0.1.0"
