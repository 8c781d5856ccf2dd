"""The ER and ANN driver-contract rows against their DuckDB oracle
twins at sf0.001, through the same comparator as
tools/check_correctness.py (row count, column names, order-insensitive
rounded values). sf0.001 embeddings are list<float>, so the ANN rows
also cover the cast to array<double>."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry_mod  # noqa: E402
from test_entry_contract import SF  # noqa: E402  (the driver-contract data)

_spec = importlib.util.spec_from_file_location(
    "check_correctness", ROOT / "tools" / "check_correctness.py")
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)

pytestmark = pytest.mark.skipif(not Path(SF).exists(),
                                reason="driver testdata absent")


@pytest.fixture(scope="module")
def oracle():
    con = check_correctness.oracle_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    "er_blocks", "er_candidate_pairs", "er_scores", "er_components",
    "er_resolution",
])
def test_er_query_matches_oracle(spark, oracle, name):
    _assert_matches(spark, oracle, name)


@pytest.mark.parametrize("name", [
    "ann_topk_bruteforce", "ann_topk_ivf", "ivf_kmeans_centroids",
    "ann_topk_lsh",
])
def test_ann_query_matches_oracle(spark, oracle, name):
    _assert_matches(spark, oracle, name)


def _assert_matches(spark, oracle, name):
    line = check_correctness.compare(
        spark, oracle, SF, name, entry_mod.queries()[name],
        entry_mod.oracle_sql()[name])
    assert line.startswith("ok"), line
