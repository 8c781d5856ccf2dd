"""Differential tests for the similarity scorers.

The Jaro-Winkler trio — scalar ``_jaro_winkler``, numpy-batched
``_jaro_winkler_batch`` and DuckDB's ``jaro_winkler_similarity`` — must
be bit-identical: the batch is what the pipeline runs, the scalar is
the readable spec, and DuckDB is the correctness oracle the driver
compares against. All three operate on UTF-8 bytes (the
rapidfuzz-style semantics DuckDB implements).
"""

from __future__ import annotations

import random
import string

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from go_dedupe_spark.functions.similarity import (
    _jaro_winkler,
    _jaro_winkler_batch,
)

ALPHABETS = [
    string.ascii_lowercase,
    string.ascii_letters + string.digits + "/_-. ",
    "ab",                                  # high-collision
    "aé漢ü字ßø",                            # multi-byte UTF-8
]


def _random_pairs(n: int, seed: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    pairs = []
    for i in range(n):
        ab = ALPHABETS[i % len(ALPHABETS)]
        la, lb = rng.randint(0, 24), rng.randint(0, 24)
        a = "".join(rng.choice(ab) for _ in range(la))
        b = "".join(rng.choice(ab) for _ in range(lb))
        if rng.random() < 0.3:              # correlated pair: small edit
            b = a[: max(0, la - 2)] + "".join(rng.choice(ab) for _ in range(2))
        pairs.append((a, b))
    # edge cases
    pairs += [("", ""), ("", "x"), ("x", ""), ("abc", "abc"),
              ("a漢d", "字acü漢"), ("prefix_match_x", "prefix_match_y")]
    return pairs


@pytest.fixture(scope="module")
def pairs() -> list[tuple[str, str]]:
    return _random_pairs(1200, seed=99)


def test_batch_matches_scalar(pairs):
    got = _jaro_winkler_batch([p[0] for p in pairs], [p[1] for p in pairs])
    want = np.array([_jaro_winkler(x, y) for x, y in pairs])
    # exact: both float64, same expression order — bit-identity is the
    # documented contract (np.isclose's default rtol would mask drift)
    bad = [(pairs[i], got[i], want[i])
           for i in np.nonzero(got != want)[0][:5]]
    assert not bad, f"batch != scalar: {bad}"


def test_batch_matches_duckdb(pairs):
    con = duckdb.connect()
    con.register("p", pd.DataFrame(pairs, columns=["a", "b"]))
    want = np.array([r[0] for r in con.execute(
        "SELECT jaro_winkler_similarity(a, b) FROM p").fetchall()])
    got = _jaro_winkler_batch([p[0] for p in pairs], [p[1] for p in pairs])
    # DuckDB returns EXACT doubles from the same algorithm; allow only
    # last-ulp noise
    bad = [(pairs[i], got[i], want[i])
           for i in np.nonzero(np.abs(got - want) > 1e-12)[0][:5]]
    assert not bad, f"batch != duckdb: {bad}"


def test_known_values():
    # classic textbook values (byte semantics; all-ASCII so codepoint
    # references agree)
    assert _jaro_winkler("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert _jaro_winkler("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-4)
    assert _jaro_winkler("", "") == 0.0
    assert _jaro_winkler("same", "same") == 1.0


def test_non_ascii_byte_semantics():
    """The documented ADVICE repro: 'a漢d' vs '字acü漢' must give the
    DuckDB (UTF-8 byte) answer in BOTH implementations."""
    a, b = "a漢d", "字acü漢"
    want = duckdb.connect().execute(
        "SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
    assert _jaro_winkler(a, b) == pytest.approx(want, abs=1e-12)
    got = _jaro_winkler_batch([a], [b])[0]
    assert got == pytest.approx(want, abs=1e-12)


def test_hash_vector_wide_ngram():
    """ADVICE r2: _hash_vector must support any window width n, with
    n <= 5 vectors bit-identical to the fixed-constant era."""
    import numpy as np

    from go_dedupe_spark.functions.similarity import _GRAM_COEF, _gram_coef, _hash_vector

    assert (_gram_coef(5) == _GRAM_COEF).all()
    text = "hello world this is a longer line of text for hashing"
    v8 = _hash_vector(text, n=8)
    assert v8.sum() > 0
    assert (v8 == _hash_vector(text, n=8)).all()          # deterministic
    assert not (v8 == _hash_vector(text, n=9)).all()      # n matters
    c = _gram_coef(12)
    assert len(np.unique(c)) == 12 and (c % 2 == 1).all() # distinct, odd


def _gram_vector_texts() -> list[str]:
    rng = random.Random(7)
    long_text = " ".join(
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(1, 9)))
        for _ in range(90))[:500]
    return ["", "a", "ab", "abc", "abcd", "abcde", "é", "日本",
            "Grüße aus Köln — 日本語のテキスト ✓", long_text]


def test_sql_gram_vectors_match_hash_vector():
    """The er_scores oracle's DuckDB gram-vector CTEs (built by the same
    function the oracle uses) equal ``_hash_vector``'s bucket counts and
    the float32-normalized vector ``hashed_ngram_vector_udf`` emits, on
    empty, 1-4-char, exactly-5-char, multi-byte and ~500-char text."""
    from go_dedupe_spark.entry_queries import _sql_gram_vectors
    from go_dedupe_spark.functions.similarity import HASH_DIM, _hash_vector

    texts = _gram_vector_texts()
    cte = f"WITH {_sql_gram_vectors('src')}"
    counts = np.zeros((len(texts), HASH_DIM))
    with duckdb.connect() as con:
        con.execute("CREATE TABLE src (id INTEGER, content VARCHAR)")
        con.executemany("INSERT INTO src VALUES (?, ?)", list(enumerate(texts)))
        for i, b, c in con.execute(f"{cte} SELECT id, b, c FROM gc").fetchall():
            counts[i, b] = c
        vecs = dict(con.execute(f"{cte} SELECT id, vec FROM gv").fetchall())
    for i, text in enumerate(texts):
        want = _hash_vector(text)
        assert (counts[i] == want).all(), text
        norm = np.linalg.norm(want)
        unit = (want / norm if norm > 0 else want).astype("float32")
        assert np.array_equal(np.array(vecs[i]), unit.astype("float64")), text


# Arrow kernel inputs: None, empty, non-ASCII and NUL-byte text, plus
# ordinary paths; the tests slice them so batches start at offset != 0.
_KERNEL_TEXTS = [None, "", "a", "Grüße aus Köln — 日本語 ✓", "ab\x00cd\x00",
                 "\x00", "src/config.py", "src/config_io.py", "lib/κόσμε.py",
                 "def f(x):\n    return x + 1\n" * 8]


def _unit_vector(text: str | None) -> np.ndarray:
    """The per-row reference of ``hashed_ngram_vector_udf``."""
    from go_dedupe_spark.functions.similarity import _hash_vector

    v = _hash_vector(text or "")
    norm = np.linalg.norm(v)
    return (v / norm if norm > 0 else v).astype("float32")


@pytest.mark.parametrize("start, stop", [(0, 0), (3, 3), (0, 10), (2, 9)],
                         ids=["empty", "empty_slice", "full", "slice"])
def test_arrow_kernels_match_row_references(start, stop):
    """The Arrow UDF kernels, called on Arrow batches as the worker
    calls them, equal the per-row references bit for bit: the
    normalized float32 ``_hash_vector``, ``_jaro_winkler`` (a NULL path
    scores as the empty one) and the float64 einsum cosine of the two
    vectors; also on empty batches and on slices (offset != 0)."""
    from go_dedupe_spark.functions.similarity import (
        hashed_ngram_vector_udf,
        path_vec_scores_udf,
    )

    texts = pa.array(_KERNEL_TEXTS, pa.string()).slice(start, stop - start)
    other = pa.array(_KERNEL_TEXTS[::-1], pa.string()).slice(start, stop - start)
    va = hashed_ngram_vector_udf.func(texts)
    vb = hashed_ngram_vector_udf.func(other)
    assert va.type == pa.list_(pa.float32()) and len(va) == len(texts)
    for got, text in zip(va.to_pylist(), texts.to_pylist()):
        assert np.array_equal(np.array(got, "float32"), _unit_vector(text)), text

    # the vector batches start at offset != 0 too
    va, vb = (pa.concat_arrays([v.slice(0, 1), v]).slice(1)
              if len(v) else v for v in (va, vb))
    out = path_vec_scores_udf.func(texts, other, va, vb)
    assert out.type == pa.struct([("jw", pa.float64()), ("cos", pa.float64())])
    assert len(out) == len(texts)
    for row, a, b in zip(out.to_pylist(), texts.to_pylist(), other.to_pylist()):
        ua = _unit_vector(a).astype("float64")
        ub = _unit_vector(b).astype("float64")
        assert row["jw"] == _jaro_winkler(a or "", b or ""), (a, b)
        assert row["cos"] == np.einsum("ij,ij->i", ua[None], ub[None])[0], (a, b)


def test_srp_bucketer_kernel_on_sliced_batch():
    """``make_srp_bucketer``'s Arrow kernel on a slice (offset != 0)
    equals ``_srp_buckets`` of the rows; a NULL element lands in bucket
    0, and a NULL vector or a wrong length raises."""
    from go_dedupe_spark.operators.ann import (
        _srp_buckets,
        make_srp_bucketer,
        srp_signs,
    )

    rng = np.random.default_rng(5)
    rows = rng.normal(size=(6, 4)).astype("float32")
    vecs = pa.array([[9.0] * 4, *rows.tolist(), [1.0, None, 2.0, 3.0]],
                    pa.list_(pa.float32())).slice(1)
    got = make_srp_bucketer(4, 3).func(vecs)
    want = _srp_buckets(rows.astype("float64"), srp_signs(4, 3))
    assert got.type == pa.int64()
    assert got.to_pylist() == [*want.tolist(), 0]
    for bad in ([[1.0] * 4, None], [[1.0] * 4, [1.0] * 3]):
        with pytest.raises(ValueError):
            make_srp_bucketer(4, 3).func(pa.array(bad, pa.list_(pa.float64())))


def _nullable_lists(elem: pa.DataType) -> pa.Array:
    """20 two-element vectors: every 4th a NULL list, every 5th with a
    NULL element."""
    return pa.array([None if i % 4 == 2 else
                     [float(i), None if i % 5 == 0 else 1.0]
                     for i in range(20)], pa.list_(elem))


_NUMS = pa.array([None if i % 3 == 1 or i % 7 == 0 else float(i)
                  for i in range(40)], pa.float64())
_BITMAP_CASES = {
    "no_bitmap": pa.array([1.0, 2.0, 3.0]),
    "all_null": pa.array([None] * 11, pa.float64()),
    "null_type": pa.nulls(5),
    "nullable": _NUMS,
    "sliced_13": _NUMS.slice(13, 19),
    "sliced_tail": _NUMS.slice(5),
    "empty_slice": _NUMS.slice(9, 0),
    "list_float": _nullable_lists(pa.float32()),
    "list_double_sliced": _nullable_lists(pa.float64()).slice(3, 11),
    "list_float_flat": _nullable_lists(pa.float32()).slice(3, 11).flatten(),
}


@pytest.mark.parametrize("case", list(_BITMAP_CASES))
def test_valid_reads_validity_bitmap(case):
    """``_valid`` unpacks the validity bitmap exactly as
    ``is_valid()`` reads it: with no bitmap, all NULL, at an offset that
    is not a multiple of 8, and on list columns with NULL lists."""
    from go_dedupe_spark.functions.similarity import _valid

    arr = _BITMAP_CASES[case]
    if case == "no_bitmap":
        assert arr.buffers()[0] is None
    got = _valid(arr)
    assert got.dtype == bool and got.tolist() == arr.is_valid().to_pylist()


def test_arrow_packs_null_mask():
    """``_arrow`` with a NULL mask builds the nullable column
    ``pa.array(values, mask=null)`` does; with none it has no bitmap."""
    from go_dedupe_spark.functions.similarity import _arrow

    values = np.arange(11, dtype=np.float64) / 3
    null = np.arange(11) % 4 == 1
    got = _arrow(values, null)
    assert got.equals(pa.array(values, mask=null)) and got.null_count == 3
    assert _arrow(values, np.zeros(11, bool)).buffers()[0] is None
    assert _arrow(values[:0], null[:0]).to_pylist() == []


def test_ann_vectors_on_sliced_list_column():
    """The ANN kernel densifies a sliced list column (offset != 0, NULL
    lists and NULL elements) as it does the same rows unsliced."""
    from go_dedupe_spark.operators.ann import _vectors

    vecs = _BITMAP_CASES["list_double_sliced"]
    ids = pa.array(range(len(vecs)), pa.int64())
    got = _vectors(ids, vecs)
    want = _vectors(ids, pa.array(vecs.to_pylist(), vecs.type))
    for g, w in zip(got[2:], want[2:]):
        assert g.dtype == w.dtype and np.array_equal(g, w, equal_nan=True)
    rows = vecs.to_pylist()
    assert got.ok.tolist() == [r is not None and None not in r for r in rows]
    assert got.length.tolist() == [len(r or []) for r in rows]
