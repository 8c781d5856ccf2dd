"""Stage checkpoint store with lineage + metrics and idempotent resume.

Generalizes the reference's two ad-hoc resume mechanisms —
``refresh=false`` skip-if-already-embedded (vector/sqlite.go:273-303)
and the Overture iterator's ``start-after`` line offset
(overture/iterator.go:85-96) — into one uniform rule: every stage
writes a checkpoint table + a manifest; a rerun with the same
``input_snapshot`` reuses the checkpoint (skip), a changed snapshot
recomputes. Incremental variants anti-join against the checkpoint.

Storage is behind ``StorageBackend`` — a real seam, not design intent:
- ``ParquetBackend`` (default): parquet directories + JSON manifests,
  what the sandbox runs.
- ``MemoryBackend``: in-process tables, proving the store logic is
  backend-agnostic (tests/test_checkpoint.py runs the full pipeline
  against it).
- ``IcebergBackend``: catalog tables via ``df.writeTo(ident)``, with
  manifests as table properties — the cluster deployment path. It
  FAILS FAST at construction when the iceberg-spark-runtime jar /
  catalog conf is absent (this container has no Iceberg jar, so its
  contract test skips here and runs on a provisioned cluster).

Each write records (FIXTURES.md §4) stage, input_snapshot, rows_out and
wall_ms in the manifest and the metrics log; the manifest adds the
table's schema.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from go_dedupe_spark.session import observed


class ParquetBackend:
    """Parquet dirs + sibling JSON manifests + a metrics JSONL.

    A table is read back with the schema it was written with (for a
    resume, the one its manifest records), so a read lists the files but
    runs no schema-inference job; a manifest without a schema (written
    before the store recorded one) still reads, by inference."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # one store may be shared by several driver threads — serialize
        # the shared metrics-file append
        self._metrics_lock = threading.Lock()

    def write_table(self, df: DataFrame, key: str) -> DataFrame:
        path = self.root / key
        df.write.mode("overwrite").parquet(str(path))
        return df.sparkSession.read.schema(df.schema).parquet(str(path))

    def read_table(self, spark: SparkSession, key: str) -> DataFrame:
        reader = spark.read
        schema = (self.get_manifest(key) or {}).get("schema")
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(str(self.root / key))

    def get_manifest(self, key: str) -> dict | None:
        mf = (self.root / key).with_suffix(".manifest.json")
        if not mf.exists():
            return None
        try:
            return json.loads(mf.read_text())
        except json.JSONDecodeError:
            return None

    def put_manifest(self, key: str, meta: dict) -> None:
        (self.root / key).with_suffix(".manifest.json").write_text(
            json.dumps(meta, indent=2))

    def append_metric(self, rec: dict) -> None:
        with self._metrics_lock, (self.root / "metrics.jsonl").open("a") as f:
            f.write(json.dumps(rec) + "\n")

    def metrics(self) -> list[dict]:
        path = self.root / "metrics.jsonl"
        if not path.exists():
            return []
        return [json.loads(line)
                for line in path.read_text().splitlines() if line]


class MemoryBackend:
    """In-process backend: tables as Arrow-collected pandas frames.
    Exists to prove (and test) that CheckpointStore's resume logic is
    storage-agnostic — the shape an Iceberg backend drops into."""

    def __init__(self):
        self._tables: dict[str, object] = {}     # key -> (pandas, schema)
        self._manifests: dict[str, dict] = {}
        self._metrics: list[dict] = []

    def write_table(self, df: DataFrame, key: str) -> DataFrame:
        self._tables[key] = (df.toPandas(), df.schema)
        return self.read_table(df.sparkSession, key)

    def read_table(self, spark: SparkSession, key: str) -> DataFrame:
        pdf, schema = self._tables[key]
        return spark.createDataFrame(pdf, schema=schema)

    def get_manifest(self, key: str) -> dict | None:
        return self._manifests.get(key)

    def put_manifest(self, key: str, meta: dict) -> None:
        self._manifests[key] = meta

    def append_metric(self, rec: dict) -> None:
        self._metrics.append(rec)

    def metrics(self) -> list[dict]:
        return list(self._metrics)


class IcebergBackend:
    """Iceberg catalog tables behind the StorageBackend seam — the
    cluster deployment story as code (reference at-rest ancestor:
    location/sql.go:58-63, :102-122; the catalog's ACID table swap
    replaces the parquet dir + .staging rename dance).

    Requirements (FAIL-FAST checked at construction, not first write):
    the iceberg-spark-runtime jar on the session classpath and a
    configured catalog, e.g.::

        spark.sql.catalog.local = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.local.type = hadoop
        spark.sql.catalog.local.warehouse = /path/warehouse

    Mapping onto the seam:
    - ``write_table``  -> ``df.writeTo(ident).createOrReplace()`` (an
      atomic snapshot swap; readers of the previous snapshot are never
      broken — the property the parquet backend approximates with the
      rename shuffle in plans/writeback._swap).
    - ``read_table``   -> ``spark.read.table(ident)``.
    - manifests        -> table properties (``go_dedupe.manifest``), so
      the resume rule travels WITH the table through catalog renames /
      replication instead of living in a sidecar file.
    - metrics          -> an append-only Iceberg table.
    """

    MANIFEST_PROP = "go_dedupe.manifest"

    def __init__(self, spark: SparkSession, catalog: str = "local",
                 namespace: str = "go_dedupe"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if impl is None:
            raise RuntimeError(
                f"IcebergBackend: no catalog configured at "
                f"spark.sql.catalog.{catalog} — add the "
                f"iceberg-spark-runtime jar and catalog conf to the "
                f"session (see class docstring)")
        try:
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS "
                      f"{catalog}.{namespace}")
        except Exception as exc:          # jar missing / catalog broken
            raise RuntimeError(
                f"IcebergBackend: catalog {catalog!r} is configured but "
                f"unusable (is iceberg-spark-runtime on the classpath?): "
                f"{exc}") from exc

    def _ident(self, key: str) -> str:
        # checkpoint keys are "stage@hash" — '@' needs quoting in SQL
        # identifiers, so normalize to an identifier-safe name. The
        # sanitization is lossy ('a-b' and 'a_b' collide), so a short
        # hash of the RAW key disambiguates: colliding stage names must
        # not silently resume from each other's data.
        safe = "".join(c if c.isalnum() or c == "_" else "_" for c in key)
        tag = hashlib.sha256(key.encode()).hexdigest()[:8]
        return f"{self.catalog}.{self.namespace}.{safe}_{tag}"

    def write_table(self, df: DataFrame, key: str) -> DataFrame:
        ident = self._ident(key)
        df.writeTo(ident).createOrReplace()
        return self.spark.read.table(ident)

    def read_table(self, spark: SparkSession, key: str) -> DataFrame:
        return spark.read.table(self._ident(key))

    def _manifest_of(self, ident: str) -> dict | None:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {ident}").collect()
        props = {r["key"]: r["value"] for r in rows}
        raw = props.get(self.MANIFEST_PROP)
        if raw is None:
            return None
        try:
            return json.loads(base64.b64decode(raw))
        except (ValueError, json.JSONDecodeError):
            return None

    def get_manifest(self, key: str) -> dict | None:
        # ONLY table-absent means "no checkpoint" — a transient
        # catalog/FS failure must propagate, not silently trigger a
        # full recompute + createOrReplace of the table (ADVICE r4).
        # tableExists is the positive probe; SHOW TBLPROPERTIES errors
        # after that are real errors.
        ident = self._ident(key)
        if not self.spark.catalog.tableExists(ident):
            return None
        return self._manifest_of(ident)

    def put_manifest(self, key: str, meta: dict) -> None:
        # base64 the JSON: embedding it as a SQL string literal would
        # let Spark's escape processing mangle backslashes / quotes in
        # snapshot tags, silently corrupting the manifest and breaking
        # resume (has() would always read False). Base64 is literal-safe
        # by construction.
        payload = base64.b64encode(json.dumps(meta).encode()).decode()
        self.spark.sql(
            f"ALTER TABLE {self._ident(key)} SET TBLPROPERTIES "
            f"('{self.MANIFEST_PROP}' = '{payload}')")

    def _metrics_ident(self) -> str:
        return f"{self.catalog}.{self.namespace}.metrics_jsonl"

    def append_metric(self, rec: dict) -> None:
        row = self.spark.createDataFrame(
            [(json.dumps(rec),)], "value string")
        ident = self._metrics_ident()
        # existence-keyed, not except-keyed: a blanket try-append/
        # except-create would bury real append failures (commit
        # conflicts, schema drift) under a confusing 'already exists'.
        # Two writers sharing the catalog can still race the first
        # create — the loser retries as an append instead of failing.
        if self.spark.catalog.tableExists(ident):
            row.writeTo(ident).append()
            return
        try:
            row.writeTo(ident).create()
        except Exception:
            row.writeTo(ident).append()   # lost the create race

    def metrics(self) -> list[dict]:
        try:
            rows = self.spark.read.table(self._metrics_ident()).collect()
        except Exception:
            return []
        return [json.loads(r["value"]) for r in rows]


class CheckpointStore:
    def __init__(self, root: str | Path, backend=None):
        self.root = Path(root)
        self.backend = backend if backend is not None \
            else ParquetBackend(self.root)

    def _key(self, stage: str, input_snapshot: str) -> str:
        # content-addressed by snapshot: two configs/inputs NEVER share
        # a key, so (a) switching back and forth reuses each config's
        # own checkpoint instead of thrashing recomputes, and (b) a
        # recompute never overwrites parquet files that a previously
        # returned (lazy) DataFrame still references.
        h = hashlib.sha256(input_snapshot.encode()).hexdigest()[:12]
        return f"{stage}@{h}"

    def has(self, stage: str, input_snapshot: str) -> bool:
        """True iff a completed checkpoint for this exact input exists."""
        meta = self.backend.get_manifest(self._key(stage, input_snapshot))
        return (
            meta is not None
            and meta.get("stage") == stage
            and meta.get("input_snapshot") == input_snapshot
            and meta.get("complete") is True
        )

    def read(self, spark: SparkSession, stage: str,
             input_snapshot: str) -> DataFrame:
        return self.backend.read_table(spark, self._key(stage, input_snapshot))

    def write(
        self,
        df: DataFrame,
        stage: str,
        input_snapshot: str,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """Materialize a stage in one Spark job. The table keeps the
        partitioning the stage computed, one part file per non-empty
        partition; with ``sort_by`` each partition is sorted by the key,
        so a rerun writes the same rows, in the same order, to each part
        file (resume idempotency invariant, FIXTURES.md §5.5). The bytes
        may differ: parquet-mr lists a column chunk's encodings in a
        varying order. ``rows_out`` is observed in the write's result
        stage (above any shuffle of the stage, so a resubmitted map stage
        cannot count rows twice), not counted by a read-back job; a write
        that reports no observed metrics falls back to that count."""
        t0 = time.monotonic()
        out = df.sortWithinPartitions(*sort_by) if sort_by else df
        rows = Observation()
        out = out.observe(rows, F.count(F.lit(1)).alias("rows_out"))
        key = self._key(stage, input_snapshot)
        persisted = self.backend.write_table(out, key)
        rows_out = observed(rows).get("rows_out")
        if rows_out is None:
            rows_out = persisted.count()
        # wall_ms is computed BEFORE the test-only delay hook below so
        # the hook never inflates stage timings (ADVICE r6).
        wall_ms = int((time.monotonic() - t0) * 1000)
        # TEST-ONLY hook: hold the table-written-but-manifest-missing
        # window open so the crash-resume test can SIGKILL inside it
        # deterministically instead of racing a millisecond gap
        # (tests/test_spark_submit.py). Unset (the default) = no-op.
        _delay = os.environ.get("SPARK_GRAFT_TEST_MANIFEST_DELAY")
        if _delay:
            time.sleep(float(_delay))
        self.backend.put_manifest(key, {
            "stage": stage,
            "input_snapshot": input_snapshot,
            "rows_out": rows_out,
            "wall_ms": wall_ms,
            "schema": df.schema.jsonValue(),
            "complete": True,
        })
        self.backend.append_metric({
            "stage": stage,
            "input_snapshot": input_snapshot,
            "rows_out": rows_out,
            "wall_ms": wall_ms,
        })
        return persisted

    def get_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        input_snapshot: str,
        compute,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """The resume rule: reuse iff (stage, input_snapshot) checkpoint
        is complete, else compute() and persist."""
        if self.has(stage, input_snapshot):
            return self.read(spark, stage, input_snapshot)
        return self.write(compute(), stage, input_snapshot, sort_by=sort_by)

    # ------------------------------------------------------------ metrics

    def metrics(self) -> list[dict]:
        return self.backend.metrics()
