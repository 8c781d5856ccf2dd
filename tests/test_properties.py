"""Property-based tests (hypothesis) for the pure kernels the pipeline
leans on hardest — the ones where a single wrong byte silently corrupts
scores or destroys a table:

- Jaro-Winkler: the numpy batch (the production scorer), the scalar
  spec, and DuckDB (the driver's oracle) must stay bit-identical on
  ARBITRARY unicode, not just the seeded random corpus in
  test_similarity.py; plus the metric's own invariants (symmetry,
  range, identity).
- hashed n-gram vectors: mass conservation (one count per byte
  window), determinism, and coefficient-prefix stability for n <= 5
  (score compatibility across releases).
- char_ngrams: the one-pass regex windows equal the per-position
  ``substring`` form and Python code-point slicing on text with
  supplementary-plane characters, NUL, newline, empty, short and NULL.
- set_jaccard: the one per-pair set-Jaccard expression (ER scoring,
  the entry queries and n-gram dedup) equals Jaccard over Python sets,
  including the identical, disjoint and empty-set edge cases.
- the ANN cosine block kernel: raw cosines bit-identical to the native
  cosine_from_norms on array<double> and array<float>, over every pair
  and over gathered pairs, and the four operators built on it return
  the rows of the per-pair native composition they replaced, edge
  cases included.
- swap_dir/recover_dir: a crash injected before ANY filesystem
  operation of the real swap_dir, over a SEQUENCE of versioned swaps,
  never loses the live table — after recover_dir the table exists and
  holds either the previous or the new version, never a stale or
  partial one. This is the durability contract the streaming index
  compaction and every writeback rely on (VERDICT r5 wrong #1).
"""

from __future__ import annotations

import hashlib
import shutil
import struct
import tempfile
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from go_dedupe_spark.functions.similarity import (
    _gram_coef,
    _hash_vector,
    _jaro_winkler,
    _jaro_winkler_batch,
    char_ngrams,
    set_jaccard,
)
from go_dedupe_spark.operators.ann import (
    _cosines,
    _vectors,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    make_srp_bucketer,
    train_ivf_centroids,
)
from go_dedupe_spark.operators.dedupe import cosine_from_norms, vec_norm_expr
from go_dedupe_spark.plans.writeback import recover_dir, swap_dir

# default hypothesis text() already excludes surrogates, so every
# generated string is utf-8 encodable (the byte semantics all three
# Jaro-Winkler implementations share)
_text = st.text(max_size=48)
_settings = settings(
    max_examples=200,
    deadline=None,  # duckdb/numpy warmup spikes the first examples
    suppress_health_check=[HealthCheck.too_slow],
)


# one shared in-process oracle connection (hypothesis calls the test
# function many times; a connect() per example would dominate runtime)
_DDB = duckdb.connect()


# ------------------------------------------------------- Jaro-Winkler


@_settings
@given(pairs=st.lists(st.tuples(_text, _text), min_size=1, max_size=12))
# NUL bytes are real characters, not the batch matrices' padding
@example(pairs=[("0\x00", "0\x000"), ("\x00a", "\x00b"), ("a", "a\x00")])
def test_jw_batch_scalar_duckdb_identical(pairs):
    """Bit-identity of the production batch vs the scalar spec vs the
    SQL oracle on arbitrary unicode pairs, batched with MIXED lengths
    (the batch path's padding/masking is exactly what per-row tests
    can't exercise)."""
    ddb = _DDB
    got = _jaro_winkler_batch([p[0] for p in pairs], [p[1] for p in pairs])
    want_scalar = np.array([_jaro_winkler(x, y) for x, y in pairs])
    # EXACT equality — both are float64 over the same expression order;
    # allclose's default rtol would mask real kernel drift
    assert (got == want_scalar).all(), (
        list(zip(pairs, got, want_scalar)))
    ddb.register("_p", pd.DataFrame(pairs, columns=["a", "b"]))
    want_sql = np.array([r[0] for r in ddb.execute(
        "SELECT jaro_winkler_similarity(a, b) FROM _p").fetchall()])
    assert np.all(np.abs(got - want_sql) <= 1e-12), (
        list(zip(pairs, got, want_sql)))


@_settings
@given(a=_text, b=_text)
def test_jw_metric_invariants(a, b):
    s_ab = _jaro_winkler(a, b)
    s_ba = _jaro_winkler(b, a)
    assert s_ab == pytest.approx(s_ba, abs=1e-12)   # symmetric
    assert 0.0 <= s_ab <= 1.0                        # bounded
    if a and a == b:
        assert s_ab == 1.0                           # identity
    if (a == "") != (b == ""):
        assert s_ab == 0.0                           # empty vs non-empty


# -------------------------------------------------- hashed n-gram vec


@_settings
@given(text=_text, n=st.integers(1, 8), dim=st.sampled_from([32, 128]))
def test_hash_vector_mass_and_determinism(text, n, dim):
    v = _hash_vector(text, n=n, dim=dim)
    assert v.shape == (dim,)
    assert (v >= 0).all()
    nbytes = len(text.encode("utf-8"))
    # one count per sliding byte window; short/empty inputs: one padded
    # window (empty: zero vector)
    want_mass = 0 if nbytes == 0 else max(nbytes - n + 1, 1)
    assert v.sum() == want_mass
    assert (v == _hash_vector(text, n=n, dim=dim)).all()


@given(n=st.integers(1, 24))
@settings(max_examples=50, deadline=None)
def test_gram_coef_prefix_stable_distinct_odd(n):
    c = _gram_coef(n)
    assert len(c) == n
    assert (c[: min(n, 5)] == _gram_coef(5)[: min(n, 5)]).all()
    assert len(np.unique(c)) == n
    assert (c % 2 == 1).all()


# --------------------------------------------------------- set Jaccard


def _spark_jaccard(spark, pairs):
    """set_jaccard over (A, B) list pairs, in input order."""
    df = spark.createDataFrame(
        [(i, sorted(a), sorted(b)) for i, (a, b) in enumerate(pairs)],
        "i int, a array<int>, b array<int>",
    ).select("i", "a", "b", F.size("a").alias("n_a"),
             F.size("b").alias("n_b"))
    rows = df.select("i", set_jaccard("a", "b", "n_a", "n_b").alias("j")) \
        .orderBy("i").collect()
    return [r["j"] for r in rows]


def _py_jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


_int_sets = st.sets(st.integers(0, 24), max_size=12)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(pairs=st.lists(st.tuples(_int_sets, _int_sets), min_size=1,
                      max_size=20))
@example(pairs=[({1, 2, 3}, {1, 2, 3}),   # identical: 1.0
                ({1, 2}, {3, 4}),         # disjoint: 0.0
                ({1, 2}, set()),          # one side empty: 0.0
                (set(), set())])          # both empty: 0.0
def test_set_jaccard_matches_python_sets(spark, pairs):
    # one Spark job per example: the whole batch of pairs in one frame
    assert _spark_jaccard(spark, pairs) == [_py_jaccard(a, b)
                                            for a, b in pairs]


# ---------------------------------------------------------- char n-grams


def _substring_ngrams(col: str, n: int):
    """The per-position ``substring`` form ``char_ngrams`` replaced
    (O(length²) per string), kept as its reference."""
    return F.expr(
        f"CASE WHEN length({col}) < {n} THEN array({col}) "
        f"ELSE transform(sequence(1, length({col}) - {n} + 1), "
        f"i -> substring({col}, i, {n})) END")


def _py_ngrams(t: str | None, n: int) -> list[str] | None:
    """Code-point slicing: the windows ``char_ngrams`` must produce."""
    if t is None:
        return None
    return [t] if len(t) < n else [t[i:i + n] for i in range(len(t) - n + 1)]


# supplementary-plane characters (surrogate pairs in Java's UTF-16),
# NUL, newline and BMP non-ASCII weighted in; st.characters() never
# yields a lone surrogate
_gram_text = st.text(
    alphabet=st.one_of(st.sampled_from("ab\x00\n é😀𝄞"),
                       st.characters(min_codepoint=0x10000),
                       st.characters()),
    max_size=14)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(st.one_of(st.none(), _gram_text), min_size=1,
                      max_size=20),
       n=st.sampled_from([1, 2, 3, 5]))
@example(texts=["", "abcd", None, "abcde", "a\nb\x00cdé", "😀abcd",
                "x😀y𝄞zw", "😀😀😀😀😀😀", "ab😀"], n=5)
def test_char_ngrams_match_substring_and_python(spark, texts, n):
    # one Spark job per example: the whole batch of texts in one frame
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    rows = df.select("i", char_ngrams("t", n).alias("got"),
                     _substring_ngrams("t", n).alias("old")) \
        .orderBy("i").collect()
    want = [_py_ngrams(t, n) for t in texts]
    assert [r["got"] for r in rows] == want
    assert [r["old"] for r in rows] == want


# ------------------------------------------------ ANN cosine kernel

_NAN = float("nan")


def _hof_cosine(a, b):
    return cosine_from_norms(F.col(a), F.col(b), vec_norm_expr(a),
                             vec_norm_expr(b))


def _bits(v):
    """A float's identity for bit-for-bit comparison (every NaN alike)."""
    if v is None or v != v:
        return v if v is None else "nan"
    return struct.pack("<d", v)


def _vec_pairs(width):
    """Mostly equal-length pairs (the only ones with a dot product) of
    plain floats, with specials, NULLs and a free-length partner mixed
    in."""
    plain = st.floats(-1e3, 1e3, width=width)
    elem = st.one_of(plain, plain, plain,
                     st.sampled_from([0.0, -0.0, _NAN]), st.none())

    def pair(n):
        vec = st.lists(elem, min_size=n, max_size=n)
        other = st.one_of(vec, vec, st.none(), st.lists(elem, max_size=5))
        return st.tuples(vec, other)

    return st.lists(st.integers(0, 5).flatmap(pair), min_size=1,
                    max_size=10)


# one explicit example per HOF edge case: zero vectors, +-0.0, cosines
# that tie at 6 dp, a NULL vector (0.0), a NULL element (0.0),
# mismatched lengths (NULL) and NaN elements (NaN); first, products that
# round differently in float and in double
_EDGE_PAIRS = [
    ([0.1, 0.7, 1.3], [0.3, 0.9, 2.2]),
    ([1e-3, 3.3, -7.77], [5.5, -0.01, 2.2]),
    ([0.0, 0.0], [0.0, 0.0]),
    ([0.0, 0.0], [1.0, 2.0]),
    ([-0.0, 0.0], [0.0, -0.0]),
    ([-0.0, 1.0], [0.0, -1.0]),
    ([1.0, 1e-4], [1.0, 0.0]),
    ([1.0, 1.1e-4], [1.0, 0.0]),
    (None, [1.0, 2.0]),
    ([1.0, None], [1.0, 2.0]),
    ([1.0, 2.0, 3.0], [1.0, 2.0]),
    ([], [1.0]),
    ([_NAN, 1.0], [1.0, 2.0]),
    ([], []),
]


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data(), etype=st.sampled_from(["double", "float"]))
@example(data=None, etype="double")
@example(data=None, etype="float")
def test_cosine_kernel_bit_identical_to_hof(spark, data, etype):
    """The numpy block kernel's raw cosine equals cosine_from_norms bit
    for bit (NULL and NaN included), on array<double> and array<float>
    input, both as the matrix of every pair and over gathered pairs; a
    pair whose norm product underflows raises in all three."""
    pairs = (_EDGE_PAIRS if data is None else
             data.draw(_vec_pairs(64 if etype == "double" else 32)))
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        f"i long, a array<{etype}>, b array<{etype}>")
    t = df.toArrow()
    n = len(pairs)
    va, vb = _vectors(t["i"], t["a"]), _vectors(t["i"], t["b"])
    try:
        cos, null = _cosines(va.column(), vb, skip=~np.eye(n, dtype=bool))
    except ArithmeticError:
        with pytest.raises(ArithmeticError):
            _cosines(va, vb)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            df.select(_hof_cosine("a", "b")).collect()
        return
    want = [_bits(r["c"]) for r in
            df.select("i", _hof_cosine("a", "b").alias("c"))
            .orderBy("i").collect()]
    got = [None if null[i, i] else _bits(float(cos[i, i])) for i in range(n)]
    assert got == want
    cos, null = _cosines(va, vb)
    assert [None if null[i] else _bits(float(cos[i])) for i in range(n)] == want


def _hof_bruteforce(items, queries, k):
    """The per-pair native composition the kernel replaced."""
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec"))
    it = items.select(F.col("vec_id").alias("item_id"),
                      F.col("embedding").alias("ivec"))
    scored = it.crossJoin(q).where(F.col("query_id") != F.col("item_id")) \
        .select("query_id", "item_id",
                F.round(_hof_cosine("qvec", "ivec"), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "item_id")
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k)


def _hof_lsh(items, queries, dim, k, n_bits):
    """The bucket equi-join the kernel scan replaced: Arrow-UDF SRP
    buckets, each query's n_bits + 1 probe buckets exploded and joined
    to the items' bucket, the HOF cosine per joined pair."""
    bucket = make_srp_bucketer(dim, n_bits)
    it = items.select(F.col("vec_id").alias("item_id"),
                      F.col("embedding").alias("ivec"),
                      bucket("embedding").alias("bucket"))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec"),
                       bucket("embedding").alias("b"))
    probes = F.array(F.col("b"), *[
        F.col("b").bitwiseXOR(F.lit(1 << b).cast("long"))
        for b in range(n_bits)])
    q = q.select("query_id", "qvec", F.explode(probes).alias("bucket"))
    scored = it.join(q, "bucket").where(F.col("query_id") != F.col("item_id")) \
        .select("query_id", "item_id",
                F.round(_hof_cosine("qvec", "ivec"), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "item_id")
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k)


def _hof_nearest(left, lid, lvec, cents, n):
    w = Window.partitionBy(lid).orderBy(F.desc("ccos"), "cid")
    return (left.crossJoin(cents)
            .withColumn("ccos", F.round(_hof_cosine(lvec, "cvec"), 6))
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= n).drop("_r", "ccos", "cvec"))


def _hof_ivf(items, queries, centroids, k, nprobe):
    c = centroids.select(F.col("vec_id").alias("cid"),
                         F.col("embedding").alias("cvec"))
    it = items.select(F.col("vec_id").alias("item_id"),
                      F.col("embedding").alias("ivec"))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qvec"))
    joined = _hof_nearest(it, "item_id", "ivec", c, 1) \
        .join(_hof_nearest(q, "query_id", "qvec", c, nprobe), "cid") \
        .where(F.col("query_id") != F.col("item_id"))
    scored = joined.select(
        "query_id", "item_id",
        F.round(_hof_cosine("qvec", "ivec"), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "item_id")
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k)


def _hof_train(items, k, iters):
    """Seeded by the first k non-NULL ids in md5 order; each iteration
    assigns every row (``row``, not its id) to its nearest centroid."""
    it = items.select(F.monotonically_increasing_id().alias("row"),
                      F.col("vec_id").alias("item_id"),
                      F.col("embedding").alias("ivec")) \
        .localCheckpoint(eager=True)
    c = (it.where(F.col("item_id").isNotNull())
         .withColumn("cid", F.md5(F.col("item_id").cast("string")))
         .orderBy("cid").limit(k).select("cid", F.col("ivec").alias("cvec"))
         .localCheckpoint(eager=True))
    for _ in range(iters):
        m = (_hof_nearest(it, "row", "ivec", c, 1)
             .select("cid", F.posexplode("ivec").alias("pos", "val"))
             .groupBy("cid", "pos").agg(F.avg("val").alias("m"))
             .groupBy("cid")
             .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
             .select("cid", F.transform("pm", lambda s: s["m"]).alias("mv")))
        norm = F.sqrt(F.aggregate(F.transform("mv", lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x))
        c = m.select("cid", F.when(norm > 0, F.transform(
            "mv", lambda x: F.round(x / norm, 6))).otherwise(F.col("mv"))
            .alias("cvec")).localCheckpoint(eager=True)
    return c.select("cid", F.col("cvec").alias("embedding"))


def _rows(df):
    def cell(v):
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return "nan" if isinstance(v, float) and v != v else v
    return sorted((tuple(cell(v) for v in r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def edge_vectors(spark):
    """Every HOF edge case as a row, plus duplicates, 6-dp ties and a
    random bulk so that k cuts somewhere."""
    rng = np.random.default_rng(17)
    edge = [[1.0, 0.0, 0.0], [1.0, 0.0, 0.0],          # duplicates
            [1.0, 1e-4, 0.0], [1.0, 1.1e-4, 0.0],     # tie at 6 dp
            [0.0, 0.0, 0.0], [-0.0, 0.0, -0.0],       # zero, +-0.0
            None, [1.0, None, 0.0],                   # NULL vec / elem
            [1.0, 2.0], [_NAN, 1.0, 0.0]]             # length, NaN
    bulk = rng.normal(size=(30, 3)).round(3).tolist()
    return spark.createDataFrame(list(enumerate(edge + bulk)),
                                 "vec_id long, embedding array<double>")


@pytest.mark.parametrize("k", [3, 100])
def test_topk_operators_match_hof_on_edge_vectors(spark, edge_vectors, k):
    """cosine_topk_bruteforce, cosine_topk_ivf and cosine_topk_lsh
    return the same rows as the native per-pair composition they
    replaced, on a table of every cosine edge case, with k below and
    above |items|, and on empty items, queries and centroids. LSH runs
    without the NULL vector and the length-2 row, which it rejects."""
    items = edge_vectors
    queries = items.where("vec_id < 12 OR vec_id % 7 = 0")
    empty = items.limit(0)
    for it, q in [(items, queries), (empty, queries), (items, empty)]:
        assert _rows(cosine_topk_bruteforce(it, q, k=k)) == \
            _rows(_hof_bruteforce(it, q, k))
    lsh_items = items.where("vec_id NOT IN (6, 8)")
    lsh_queries = lsh_items.where("vec_id < 12 OR vec_id % 7 = 0")
    for it, q in [(lsh_items, lsh_queries), (empty, lsh_queries),
                  (lsh_items, empty)]:
        assert _rows(cosine_topk_lsh(it, q, dim=3, k=k, n_bits=4)) == \
            _rows(_hof_lsh(it, q, 3, k, 4))
    # the NaN centroid ties every query's probes (Spark ranks them all);
    # the numeric set leaves most queries' probes decided by the kernel
    cents = items.where("vec_id IN (0, 4, 6, 9, 15, 22, 31)")
    numeric = items.where("vec_id IN (0, 2, 15, 22, 31)")
    for it, q, c in [(items, queries, cents), (items, queries, numeric),
                     (empty, queries, cents), (items, empty, cents),
                     (items, queries, empty)]:
        assert _rows(cosine_topk_ivf(it, q, c, k=k, nprobe=2)) == \
            _rows(_hof_ivf(it, q, c, k, 2))


def test_train_ivf_centroids_matches_hof_on_edge_vectors(spark, edge_vectors):
    """train_ivf_centroids returns the centroids of the native per-pair
    assignment and ``avg`` update it replaced: on the edge-case table
    (its NaN row turns every centroid it joins NaN), without the
    NULL/NaN/short rows, with rows that share an id or have a NULL id
    (each row is a member; none of these ids seeds a centroid), and on
    no items."""
    items = edge_vectors
    shared = items.where("vec_id BETWEEN 10 AND 25").withColumn(
        "vec_id", F.when(F.col("vec_id") < 20, F.col("vec_id") % 3))
    clean = items.where("vec_id NOT IN (6, 7, 8, 9)")
    for it in (items, clean, clean.unionByName(shared), items.limit(0)):
        assert _rows(train_ivf_centroids(it, k=4, iters=2)) == \
            _rows(_hof_train(it, 4, 2))


def test_train_ivf_centroids_counts_every_row(spark):
    """Every item row is one k-means member: the three rows of id 3 and
    the two NULL-id rows all join centroid 2's mean (ranking members by
    id dropped three of the rows: centroid 2 came out as [0.033879,
    0.999426])."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.2, 1.0]),
            (3, [0.3, 0.9]), (3, [0.1, 0.95]), (None, [0.0, 1.0]),
            (None, [0.05, 1.0])]
    items = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["cid"]: r["embedding"]
           for r in train_ivf_centroids(items, k=2, iters=1).collect()}
    c1, c2 = (hashlib.md5(i).hexdigest() for i in (b"1", b"2"))
    mean = np.mean([v for i, v in rows if i != 1], axis=0)
    assert got.keys() == {c1, c2}
    assert got[c1] == [1.0, 0.0]
    assert got[c2] == pytest.approx(mean / np.linalg.norm(mean), abs=1e-6)


# ------------------------------------------- swap_dir crash injection


class _Crash(RuntimeError):
    pass


def _write_version(d: Path, v: int) -> None:
    if d.exists():
        shutil.rmtree(d)
    d.mkdir()
    (d / "part-0.parquet").write_text(f"v{v}")


def _read_version(d: Path) -> int:
    return int((d / "part-0.parquet").read_text()[1:])


def _swap_with_crash(staging: Path, final: Path,
                     crash_before_op: int) -> bool:
    """Run the REAL swap_dir with a crash injected before its Nth
    filesystem operation (rename or rmtree). Returns True if the swap
    completed. crash_before_op larger than the op count = no crash."""
    counter = {"n": 0}
    real_rename = Path.rename
    real_rmtree = shutil.rmtree

    def tick():
        counter["n"] += 1
        if counter["n"] > crash_before_op:
            raise _Crash()

    def rename(self, target):
        tick()
        return real_rename(self, target)

    def rmtree(path, *a, **k):
        tick()
        return real_rmtree(path, *a, **k)

    # swap_dir does `import shutil` in its body, so it resolves rmtree
    # off the global shutil module at call time — patch that module
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Path, "rename", rename)
        mp.setattr(shutil, "rmtree", rmtree)
        try:
            swap_dir(staging, final)
            return True
        except _Crash:
            return False


@settings(max_examples=120, deadline=None)
@given(crash_points=st.lists(st.integers(0, 5), min_size=1, max_size=6))
def test_swap_sequence_never_loses_live_table(crash_points):
    """Stateful durability property: across a sequence of versioned
    swaps, each crashed before an arbitrary filesystem operation of the
    real swap_dir, recover_dir always leaves a COMPLETE live table
    holding either the pre-swap or the post-swap version — never
    missing, never a partial or stale copy. (swap_dir's own op order:
    [rmtree stale .old,] [final -> .old,] staging -> final[, rmtree
    .old] — 0..4 ops depending on state.)"""
    with tempfile.TemporaryDirectory() as td:
        root = Path(td)
        final = root / "table"
        staging = root / "table.staging"
        _write_version(final, 0)
        current = 0
        for i, crash_at in enumerate(crash_points, start=1):
            _write_version(staging, i)
            completed = _swap_with_crash(staging, final, crash_at)
            recover_dir(final)
            assert final.exists(), "live table lost"
            got = _read_version(final)
            assert got in (current, i), (
                f"table holds v{got}, expected v{current} or v{i}")
            if completed:
                assert got == i
            current = got
            # a crashed swap may leave the staging dir; the next
            # iteration rewrites it (same as a retried job would)


def test_swap_crash_every_single_point_exhaustive():
    """Non-random twin of the property above: every crash point of a
    had-final + stale-.old swap (the maximal 4-op sequence), checked
    exhaustively so the invariant doesn't depend on hypothesis'
    sampling."""
    for crash_at in range(5):
        with tempfile.TemporaryDirectory() as td:
            root = Path(td)
            final, staging = root / "t", root / "t.staging"
            old = root / "t.old"
            _write_version(final, 1)
            _write_version(staging, 2)
            old.mkdir()
            (old / "part-0.parquet").write_text("stale")
            completed = _swap_with_crash(staging, final, crash_at)
            recover_dir(final)
            assert final.exists()
            got = (final / "part-0.parquet").read_text()
            assert got in ("v1", "v2"), got
            assert completed == (crash_at >= 4)
            if completed:
                assert got == "v2"
