from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from go_dedupe_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("go-dedupe-spark-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus():
    from go_dedupe_spark.synth import generate

    return generate(n_rows=800, seed=42)


@pytest.fixture(scope="session")
def files_df(spark, corpus):
    from go_dedupe_spark.synth import to_spark

    files, _ = to_spark(spark, corpus)
    return files.cache()


@pytest.fixture(scope="session")
def labeled_df(spark, corpus):
    from go_dedupe_spark.synth import to_spark

    _, labeled = to_spark(spark, corpus)
    return labeled.cache()


@pytest.fixture(scope="session")
def jobs_run(spark):
    """``jobs_run(group, fn)`` -> (``fn()``, the number of Spark jobs it
    ran), counted by job group."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
