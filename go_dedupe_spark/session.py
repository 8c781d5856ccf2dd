"""SparkSession builders.

Local sessions are sized for the sandbox (local[N] single JVM) but every
config here is the one you would set on a real multi-executor cluster:
AQE on (skew-join mitigation for mega-blocks — the analog of the
reference's biggest-blocks-first work stealing, location/sql.go:153),
Arrow enabled, shuffle partitions sized to cores.

Most compute is native Columns. What runs in Python, over Arrow
batches: the ``build_features`` n-gram vector, ``score_pairs`` phase 2
(Jaro-Winkler + cosine), the ANN cosine kernels (top-k, k-means) and
the multimodal decode. Input parallelism follows one rule: a native
per-record stage spreads a narrow input with ``spread``; a Python stage
runs at its input's partitioning, because each concurrent Python task
forks its own pandas/pyarrow worker.

Generated code is compiled once per session: ``CODEGEN_CACHE_ENTRIES``
sizes Spark's codegen class cache (``spark.sql.codegen.cache.maxEntries``,
default 100) to hold every class the library's plans generate. With an
unbounded cache, one session compiles 157 distinct classes over five
perfbench ``er_pipeline`` jobs (109 for ``near_dup_ann``), 487 over the
44 entry queries of ``tools/check_correctness.py`` and 1,440 over the
whole Tier-1 test suite. A 100-entry LRU cache evicts a class before
its plan runs again, so every rerun (a benchmark's timed job, a resume,
a streaming batch, the next entry query) compiled most of them again.
4096 entries hold the largest of those sessions with room to spare; a
generated class averages 2-3 KB of bytecode (``CodegenMetrics``), so a
full cache holds ~12 MB of it. The cache is a JVM-wide static conf: a
session that is already running keeps its first value.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession

# codegen class cache entries, sized in the module docstring
CODEGEN_CACHE_ENTRIES = 4096


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the number of CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def spread(df: DataFrame, key: str) -> DataFrame:
    """The one input-parallelism rule of the per-record operators:
    ``df`` hash-repartitioned on ``key`` to ``defaultParallelism``
    partitions when its plan yields fewer, else ``df`` itself.

    The count is read from the plan and runs no Spark job. With AQE on
    (``get_spark``), a plan with an exchange is adaptive; before it
    runs, its ``executedPlan`` is the planned one, exchanges included,
    and names its output partitioning (``UnknownPartitioning(0)`` for a
    union or a broadcast join's probe side, which therefore counts as
    narrow). A plan without one is a chain of narrow operators over a
    scan, whose splits are listed without a job. A scan of one small
    file is one split and gets spread; a scan of many splits, or a
    frame already spread, is returned unchanged."""
    par = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        n = plan.executedPlan().outputPartitioning().numPartitions()
    else:
        n = plan.execute().getNumPartitions()
    return df if n >= par else df.repartition(par, key)


def observed(obs: Observation, **empty) -> dict:
    """The metrics ``obs`` collected on the action it observed, else
    ``empty``: a plan the optimizer proves empty (an empty local
    relation) loses its observation node and reports no metrics."""
    return empty if obs._jo.getRow().length() == 0 else obs.get


def get_spark(
    app_name: str = "go-dedupe-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``default_cores()``. ``shuffle_partitions`` defaults to 2x cores — small
    enough for local mode, and the knob a cluster deployment retunes
    first.
    """
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def package_zip() -> str:
    """Zip this package for ``spark-submit --py-files`` / addPyFile.

    The cluster deployment story (north_rule: ``spark-submit
    --py-files``): workers must import go_dedupe_spark to deserialize
    the pandas UDFs.
    """
    pkg_dir = Path(__file__).resolve().parent
    out = Path(tempfile.gettempdir()) / "go_dedupe_spark_pyfiles"
    out.mkdir(exist_ok=True)
    zip_base = out / "go_dedupe_spark"
    stage = out / "stage"
    if stage.exists():
        shutil.rmtree(stage)
    shutil.copytree(pkg_dir, stage / "go_dedupe_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    return shutil.make_archive(str(zip_base), "zip", root_dir=stage)


def _ship_package(spark: SparkSession) -> None:
    """Make go_dedupe_spark importable on executors (idempotent)."""
    if getattr(spark, "_go_dedupe_shipped", False):
        return
    spark.sparkContext.addPyFile(package_zip())
    spark._go_dedupe_shipped = True
