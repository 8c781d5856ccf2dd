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
    "er_records", "er_blocks", "er_block_histogram", "er_candidate_pairs",
    "er_scores", "er_matches_topk", "er_components", "er_components_dist",
    "er_resolution", "er_quarantine",
])
def test_er_query_matches_oracle(spark, oracle, name):
    _assert_matches(spark, oracle, name)


@pytest.mark.parametrize("name", [
    "ann_topk_bruteforce", "ann_topk_ivf", "ivf_kmeans_centroids",
    "ann_topk_lsh",
])
def test_ann_query_matches_oracle(spark, oracle, name):
    _assert_matches(spark, oracle, name)


def _assert_matches(spark, oracle, name, sf=SF):
    line = check_correctness.compare(
        spark, oracle, sf, name, entry_mod.queries()[name],
        entry_mod.oracle_sql()[name])
    assert line.startswith("ok"), line


_NEAR = ("the merge join reads both sorted inputs once and emits every "
         "matching row pair while the hash join builds a table on the "
         "smaller side and probes it with each row of the larger side")

# (text, why): every row is one lang and one source, so the path-token
# bands put most pairs into candidate blocks
_DEGENERATE_DOCS = [
    (_NEAR, "byte-identical to the next row: decided_by='exact'"),
    (_NEAR, "byte-identical to the previous row"),
    ("", "empty text: one '' shingle, a zero n-gram vector"),
    ("!!! ... --- ???", "punctuation only: zero word tokens"),
    ("ab", "shorter than the n-gram and the shingle width"),
    ("x", "one char"),
    ("Grüße aus Köln — 日本語のテキスト ✓", "non-ASCII multi-byte text"),
    (_NEAR.replace("smaller", "cheaper"), "one word off _NEAR: matches"),
    ("window functions rank rows inside each partition by the order key "
     "and the planner adds a sort when the input is not already sorted",
     "unrelated to _NEAR beyond stopwords: floors"),
    (None, "NULL text: normalize drops it"),
]


def test_er_degenerate_input_matches_oracle(spark, tmp_path):
    """er_scores and er_components against their oracles on a small
    documents table holding the rows the sf corpora lack: byte-identical
    texts, empty, punctuation-only, very short, non-ASCII and NULL text,
    plus a matching and a flooring pair."""
    import duckdb

    with duckdb.connect() as con:
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR, "
                    "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
        con.executemany("INSERT INTO d VALUES (?, ?, 'en', 'src', ?)", [
            (i, text, None if text is None else len(text))
            for i, (text, _) in enumerate(_DEGENERATE_DOCS)])
        con.execute(f"COPY d TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)")
    oracle = check_correctness.oracle_connection(str(tmp_path))
    try:
        decided = dict(oracle.execute(
            "SELECT decided_by, count(*) FILTER (WHERE is_match) FROM ("
            + entry_mod.oracle_sql()["er_scores"] + ") GROUP BY 1").fetchall())
        # the input reaches every scoring branch, accepted and floored
        assert set(decided) == {"exact", "full", "jaccard_floor"}
        assert decided["full"] > 0 and decided["exact"] == 1
        for name in ("er_scores", "er_components"):
            _assert_matches(spark, oracle, name, sf=str(tmp_path))
    finally:
        oracle.close()
