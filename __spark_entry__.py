"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query (ER match pipeline on sf0.001 documents)
queries()     -> one entry per implemented operator (SURVEY.md §2 +
                 training-data operators); each (spark, sf_dir) -> DataFrame
oracle_sql()  -> DuckDB-runnable SQL twin per query (same columns/values)

Implementations live in go_dedupe_spark.entry_queries; this module stays
a thin stable wrapper.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _ensure_shipped(spark: SparkSession) -> None:
    """Make the package importable on executors (Python UDFs)."""
    from go_dedupe_spark.session import _ship_package

    try:
        _ship_package(spark)
    except Exception:  # already shipped / static conf — non-fatal
        pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the ER scoring pipeline (block -> pair -> score -> match)
    over /root/testdata/sf0.001 documents."""
    _ensure_shipped(spark)
    from go_dedupe_spark import entry_queries as q

    return q.er_scores(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from go_dedupe_spark import entry_queries as q

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, fn in q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from go_dedupe_spark import entry_queries as q

    return dict(q.ORACLES)
