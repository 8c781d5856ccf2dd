"""End-to-end pipeline correctness: golden variants, F1 >= 0.99 on
labeled same-block pairs, per-row sha256 invariant, CC vs a union-find
oracle, survivor determinism. Mirrors the reference's golden-count test
strategy (vector/tests.go:11-119, expectations [1,1,0,0])."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_dedupe_spark.operators.blocking import make_blocks
from go_dedupe_spark.operators.components import connected_components
from go_dedupe_spark.operators.normalize import normalize, quarantine
from go_dedupe_spark.operators.pairs import candidate_pairs
from go_dedupe_spark.operators.scoring import build_features, score_pairs
from go_dedupe_spark.plans.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def result(spark, files_df):
    return run_pipeline(spark, files_df, PipelineConfig())


def test_normalize_sha_invariant(spark, files_df):
    """Per-row invariant (BASELINE.json): records.content_sha256 equals
    sha256 recomputed from the input table, for every row."""
    records = normalize(files_df)
    joined = records.alias("r").join(
        files_df.select(
            "repo", "path", "commit",
            F.sha2(F.col("content"), 256).alias("expect_sha"),
        ).alias("f"),
        ["repo", "path", "commit"],
    )
    bad = joined.where(F.col("content_sha256") != F.col("expect_sha")).count()
    assert bad == 0
    assert records.count() == files_df.count()


def test_quarantine_catches_invalid(spark):
    rows = [
        ("org/a", "src/x.py", "abc123", "python", "code"),
        (None, "src/y.py", "abc124", "python", "code"),
        ("org/b", "", "abc125", "python", "code"),
        ("org/c", "src/z.py", "abc126", "python", None),
    ]
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    assert normalize(df).count() == 1
    q = quarantine(df).select("reject_reason").toPandas()
    assert sorted(q["reject_reason"]) == [
        "missing_content", "missing_path", "missing_repo"
    ]


def test_normalize_quarantine_partition_contract(spark):
    """The er_quarantine contract row pins the reject side; this pins
    that normalize() (accepts) and quarantine() (rejects) PARTITION the
    input — disjoint natural keys, counts summing to the input — on the
    same modular-corruption frame the entry query uses, so neither side
    silently drops or double-counts a row."""
    n = 600
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 41 == 0, F.lit("")).otherwise(
            F.concat(F.lit("org/r"), (F.col("id") % 7).cast("string"))
        ).alias("repo"),
        F.when(F.col("id") % 43 == 1, F.lit(None).cast("string"))
         .otherwise(F.concat(F.lit("src/f"), F.col("id").cast("string"),
                             F.lit(".py"))).alias("path"),
        F.when(F.col("id") % 47 == 2, F.lit("")).otherwise(
            F.sha2(F.col("id").cast("string"), 256).substr(1, 8)
        ).alias("commit"),
        F.when(F.col("id") % 53 == 3, F.lit(None).cast("string"))
         .otherwise(F.lit("python")).alias("lang"),
        F.when(F.col("id") % 59 == 4, F.lit(None).cast("string"))
         .otherwise(F.concat(F.lit("content "), F.col("id").cast("string"))
                    ).alias("content"),
    )
    accepted = normalize(base)
    rejected = quarantine(base)
    n_acc, n_rej = accepted.count(), rejected.count()
    assert n_acc + n_rej == n
    assert n_rej > 0 and n_acc > 0
    # disjoint: no doc appears on both sides
    acc_ids = accepted.select(
        F.regexp_extract("path", r"src/f(\d+)\.py", 1).cast("long")
        .alias("doc_id"))
    both = rejected.select("doc_id").join(acc_ids, "doc_id").count()
    assert both == 0


def test_blocking_recall(spark, files_df, labeled_df):
    """Every labeled-true pair must co-occur in >= 1 block (FIXTURES.md
    invariant 3 — banding recall guard)."""
    records = normalize(files_df)
    blocks = make_blocks(records, PipelineConfig().bands())
    pairs = candidate_pairs(blocks)
    true_pairs = labeled_df.where("label").select("id_a", "id_b")
    missed = true_pairs.join(pairs, ["id_a", "id_b"], "left_anti").count()
    total = true_pairs.count()
    assert total > 50
    assert missed / total <= 0.01, f"blocking recall too low: missed {missed}/{total}"


def test_f1_on_labeled_same_block_pairs(spark, files_df, labeled_df):
    """Pairwise F1 >= 0.99 on labeled pairs sharing a blocking key, at
    the pipeline's default threshold — THE headline metric
    (BASELINE.json)."""
    cfg = PipelineConfig()
    records = normalize(files_df)
    blocks = make_blocks(records, cfg.bands())
    pairs = candidate_pairs(blocks)
    features = build_features(records).localCheckpoint(eager=True)
    scores = score_pairs(pairs, features, cfg.threshold)

    labeled_blocked = labeled_df.join(
        pairs.select("id_a", "id_b").distinct(), ["id_a", "id_b"], "inner"
    )
    eval_df = labeled_blocked.join(
        scores.select("id_a", "id_b", "is_match"), ["id_a", "id_b"], "left"
    ).fillna({"is_match": False})
    agg = eval_df.agg(
        F.sum(F.when(F.col("label") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("label") & F.col("is_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("label") & ~F.col("is_match"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    assert f1 >= 0.99, f"F1={f1:.4f} (tp={tp} fp={fp} fn={fn})"


def test_components_match_union_find_oracle(spark, result):
    """components must equal the transitive closure of is_match pairs
    (FIXTURES.md invariant 4) — checked against a pure-python union-find."""
    edges = result.scores.where("is_match").select("id_a", "id_b").collect()
    ids = [r["id"] for r in result.records.select("id").collect()]

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for e in edges:
        union(e["id_a"], e["id_b"])
    # canonical root = min id in component
    groups: dict[str, list[str]] = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    expected = {}
    for members in groups.values():
        root = min(members)
        for m in members:
            expected[m] = root

    got = {r["id"]: r["cluster_id"] for r in result.components.collect()}
    assert got == expected


def test_components_valid_partition(result):
    comp = result.components
    n_records = result.records.count()
    assert comp.count() == n_records
    assert comp.select("id").distinct().count() == n_records
    # every cluster_id is itself a record id
    bad = comp.select(F.col("cluster_id").alias("id")).distinct().join(
        comp.select("id"), "id", "left_anti"
    ).count()
    assert bad == 0


def test_resolution_survivors(result):
    res = result.resolution
    # exactly one survivor per cluster
    per_cluster = res.groupBy("cluster_id").agg(
        F.sum(F.col("is_survivor").cast("int")).alias("n_surv")
    )
    assert per_cluster.where("n_surv != 1").count() == 0
    # losers point at the survivor
    bad = res.where(
        ~F.col("is_survivor") & (F.element_at("superseded_by", 1) != F.col("survivor_id"))
    ).count()
    assert bad == 0


def test_golden_variants(spark):
    """The reference's 4-probe golden-count test (vector/tests.go:20-92 +
    sqlite_test.go:22-38 expectations [1,1,0,0]) transplanted to the code
    domain (FIXTURES.md §3 cases g1-g4)."""
    base_content = "\n".join(
        f"def parse_token(buffer, index):\n    value = decode(buffer, {i})\n"
        "    return value" for i in range(6)
    )
    other_content = "\n".join(
        f"class Widget{i}:\n    def render(self, canvas):\n"
        f"        canvas.draw({i}, {i * 2})" for i in range(6)
    )
    rows = [
        # the indexed base record
        ("org/base", "src/util/parse_token.py", "c0ffee000001", "python", base_content),
        # g1: identical content, path case/separator change -> MATCH
        ("org/g1", "src/util/parse-token.py", "c0ffee000002", "python", base_content),
        # g2: light edits + one path token change -> MATCH
        ("org/g2", "src/util/parse_token_v2.py", "c0ffee000003", "python",
         "# edited rev 3\n" + base_content.replace("value", "value_v2") + "  "),
        # g3: unrelated content, same directory/lang -> NO MATCH
        ("org/g3", "src/util/widget_draw.py", "c0ffee000004", "python", other_content),
        # g4: unrelated content, different lang -> NO MATCH
        ("org/g4", "lib/render/widget.js", "c0ffee000005", "javascript", other_content),
    ]
    files = spark.createDataFrame(
        rows, ["repo", "path", "commit", "lang", "content"]
    )
    result = run_pipeline(spark, files, PipelineConfig())
    base_id_row = result.records.where("repo = 'org/base'").select("id").collect()
    base_id = base_id_row[0]["id"]
    matches = result.scores.where("is_match").select("id_a", "id_b").collect()
    matched_with_base = set()
    for m in matches:
        if m["id_a"] == base_id:
            matched_with_base.add(m["id_b"])
        elif m["id_b"] == base_id:
            matched_with_base.add(m["id_a"])
    repo_of = {r["id"]: r["repo"] for r in result.records.select("id", "repo").collect()}
    matched_repos = sorted(repo_of[i] for i in matched_with_base)
    assert matched_repos == ["org/g1", "org/g2"], matched_repos


def test_distributed_cc_matches_driver_path(spark):
    """Force the large-star/small-star loop (driver_max_edges=0) and
    check it equals the driver union-find on a pathological chain +
    star + cliques graph."""
    from go_dedupe_spark.operators.components import connected_components

    edges = (
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(0, 40)]      # long chain
        + [("s000", f"s{i:03d}") for i in range(1, 20)]            # star
        + [(f"c{i:02d}", f"c{j:02d}") for i in range(5) for j in range(i + 1, 5)]
        + [("z001", "z002")]
    )
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    dist = {
        (r["id"], r["cluster_id"])
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    drv = {
        (r["id"], r["cluster_id"])
        for r in connected_components(df, driver_max_edges=10**9).collect()
    }
    assert dist == drv
    # chain collapses to min element
    assert ("n040", "n000") in dist
    assert ("s019", "s000") in dist


def test_distributed_cc_on_real_pipeline_graph(spark, result):
    """The distributed star loop on the REAL fixture match graph (not a
    synthetic star/chain): forcing driver_max_edges=0 must reproduce
    the driver union-find's clustering exactly — the differential that
    matters for the 100x corpus, where the match graph takes the
    distributed path."""
    from go_dedupe_spark.operators.components import connected_components

    matches = result.scores.where("is_match").select("id_a", "id_b")
    dist = {(r["id"], r["cluster_id"])
            for r in connected_components(matches,
                                          driver_max_edges=0).collect()}
    drv = {(r["id"], r["cluster_id"])
           for r in connected_components(matches,
                                         driver_max_edges=10**9).collect()}
    assert dist == drv and len(dist) > 0


def test_resolve_clusters_array_free_mode(spark):
    """Corpus-scale resolution: supersedes_arrays=False must plan with
    NO collect_set (the survivor's supersedes list is the one remaining
    cluster-sized array in the engine — same hub hazard as CC), keep
    survivor choice and loser edges identical, and every supersession
    edge must remain recoverable from the loser rows alone."""
    from go_dedupe_spark.operators.resolve import resolve_clusters

    comps = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d")],
        ["id", "cluster_id"])
    recs = spark.createDataFrame(
        [("a", "c1"), ("b", "c9"), ("c", "c5"), ("d", "c2")],
        ["id", "commit"])
    full = resolve_clusters(comps, recs)
    lean = resolve_clusters(comps, recs, supersedes_arrays=False)
    plan = lean._jdf.queryExecution().toString()
    assert "collect_set" not in plan, plan
    f = {r["id"]: r for r in full.collect()}
    le = {r["id"]: r for r in lean.collect()}
    assert f["b"]["is_survivor"] and sorted(f["b"]["supersedes"]) == ["a", "c"]
    for i in f:
        assert f[i]["survivor_id"] == le[i]["survivor_id"]
        assert f[i]["superseded_by"] == le[i]["superseded_by"]
        assert le[i]["supersedes"] == []
    loser_edges = {(i, r["superseded_by"][0])
                   for i, r in le.items() if r["superseded_by"]}
    full_edges = {(loser, i) for i, r in f.items() for loser in r["supersedes"]}
    assert loser_edges == full_edges


def test_distributed_cc_mega_component_no_arrays(spark):
    """Mega-cluster hub hazard regression: a planted 100k-member star
    (+ a chain grafted on, forcing several iterations) must run the
    DISTRIBUTED path (driver_max_edges=0) — and the star steps must not
    materialize neighborhoods as arrays (no collect_set in any plan),
    since CC iterations concentrate edges onto the component min and an
    array-per-root formulation OOMs one task at mega-cluster scale."""
    from pyspark.sql import functions as F

    from go_dedupe_spark.operators.components import (
        _large_star,
        _small_star,
        connected_components,
    )

    leaves = spark.range(1, 100_001).select(
        F.lit("hub").alias("id_a"),
        F.format_string("m%06d", "id").alias("id_b"),
    )
    # chain hanging off one leaf: hub <- m000001 <- c00 <- ... <- c19
    chain = spark.createDataFrame(
        [("m000001", "c00")]
        + [(f"c{i:02d}", f"c{i+1:02d}") for i in range(19)],
        ["id_a", "id_b"],
    )
    edges = leaves.unionByName(chain)

    # plan audit: neither star step aggregates to arrays
    e = edges.selectExpr("id_a as u", "id_b as v")
    for step in (_large_star(e), _small_star(e)):
        plan = step._jdf.queryExecution().toString()
        assert "collect_set" not in plan, plan
        assert "ObjectHashAggregate" not in plan, plan

    comp = connected_components(edges, driver_max_edges=0)
    agg = comp.groupBy("cluster_id").count().collect()
    assert len(agg) == 1
    # 100k leaves + hub + 20 chain nodes, all rooted at min id "c00"
    assert agg[0]["cluster_id"] == "c00"
    assert agg[0]["count"] == 100_021


_LICENSE_WORDS = (
    "Permission is hereby granted free of charge to any person obtaining a "
    "copy of this software and associated documentation files the "
    "Software to deal in the Software without restriction including "
    "without limitation the rights to use copy modify merge publish "
    "distribute sublicense and or sell copies of the Software"
).split()


@pytest.mark.parametrize("header_words", [10, 20])
def test_scorer_rejects_shared_boilerplate(spark, header_words):
    """Files that share only a license header never match; near
    duplicates behind the same header always do. 150 negative pairs
    (unrelated bodies, paths one edit apart) and 150 positive pairs
    (a body and its near-duplicate edit), scored at the default
    threshold. The oracle-twinned composite (0.3*JW + 0.7*Jaccard >=
    0.31) false-matches most of these negatives; this is why the
    library keeps its own scorer (ROADMAP direction 1). Known limit:
    at 40 and 60 header words the library false-matches too."""
    import random

    from go_dedupe_spark.synth import (
        _gen_content,
        _perturb_near,
        _perturb_path,
        record_id,
    )

    rng = random.Random(header_words)
    header = "# " + " ".join(_LICENSE_WORDS[:header_words]) + "\n"
    rows, labels = [], {}
    for i in range(300):
        label = i % 2 == 0
        path = f"src/lib/module_{i}.py"
        body = _gen_content(rng, "python")
        other = _perturb_near(rng, body) if label else _gen_content(rng, "python")
        a = (f"org/a{i}", path, "c0ffee", "python", header + body)
        b = (f"org/b{i}", _perturb_path(rng, path), "c0ffee", "python",
             header + other)
        rows += [a, b]
        labels[(record_id(*a[:3]), record_id(*b[:3]))] = label
    files = spark.createDataFrame(rows, ["repo", "path", "commit", "lang",
                                         "content"])
    pair_df = spark.createDataFrame(
        [(a, b, f"k{i}") for i, (a, b) in enumerate(labels)],
        ["id_a", "id_b", "block_key"])
    features = build_features(normalize(files)).localCheckpoint(eager=True)
    scores = score_pairs(pair_df, features, PipelineConfig().threshold)
    got = {(r["id_a"], r["id_b"]): r["is_match"] for r in scores.collect()}
    assert got.keys() == labels.keys()
    false_pos = sum(m and not labels[k] for k, m in got.items())
    false_neg = sum(labels[k] and not m for k, m in got.items())
    assert (false_pos, false_neg) == (0, 0)


def _scoring_inputs(spark):
    """Pairs covering every ``score_pairs`` branch, and their features
    (materialized, as run_pipeline passes them): an exact duplicate, a
    floored pair, a ``full`` pair on each side of the threshold, two
    different zero-token contents (they floor) and two identical ones
    (they match as ``exact``)."""
    body = ("def load_config(path):\n    with open(path) as fh:\n"
            "        return parse_yaml(fh.read(), strict=True)\n"
            "def save_config(path, data):\n    write_yaml(path, data)\n")
    half = ("def load_config(path):\n    with open(path) as fh:\n"
            "        return toml.loads(fh.read())\n"
            "class Registry:\n    items = {}\n    lock = None\n"
            "    def add(self, key, value):\n        self.items[key] = value\n")
    files = [
        ("org/a", "src/config.py", "c1", "python", body),
        ("org/b", "lib/config.py", "c1", "python", body),
        ("org/c", "src/config_io.py", "c1", "python",
         body.replace("strict=True", "strict=False")),
        ("org/d", "docs/registry_notes.md", "c1", "python", half),
        ("org/e", "README.md", "c1", "text",
         "a totally unrelated paragraph about gardening and soil"),
        ("org/f", "empty.txt", "c1", "text", ""),
        ("org/g", "punct.txt", "c1", "text", "!!! --- ???"),
        ("org/h", "pkg/__init__.py", "c1", "python", ""),
    ]
    records = normalize(spark.createDataFrame(
        files, ["repo", "path", "commit", "lang", "content"]))
    ids = {r["repo"]: r["id"] for r in records.select("repo", "id").collect()}
    pairs = [("org/a", "org/b"), ("org/a", "org/c"), ("org/a", "org/d"),
             ("org/a", "org/e"), ("org/f", "org/g"), ("org/c", "org/e"),
             ("org/f", "org/h")]
    pair_df = spark.createDataFrame(
        [(ids[a], ids[b], f"k{i}") for i, (a, b) in enumerate(pairs)],
        ["id_a", "id_b", "block_key"])
    return pair_df, build_features(records).localCheckpoint(eager=True)


def test_score_pairs_is_partition_invariant(spark):
    """``score_pairs`` scores at the partitioning its pairs arrive in;
    the rows (all nine columns, 6 dp) are the same at 1, 4 and 16
    input partitions, over every decision branch."""
    pairs, features = _scoring_inputs(spark)
    threshold = PipelineConfig().threshold

    def rows(n):
        scored = score_pairs(pairs.repartition(n), features, threshold)
        return sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in scored.collect())

    want = rows(1)
    by_branch = {(r[8], r[7]) for r in want}
    assert {("exact", True), ("jaccard_floor", False), ("full", True),
            ("full", False)} <= by_branch, want
    # k4: the empty and the punctuation-only content; k6: two empty ones
    zero_token = {r[2]: (r[8], r[7]) for r in want if r[2] in ("k4", "k6")}
    assert zero_token == {"k4": ("jaccard_floor", False),
                          "k6": ("exact", True)}, want
    for n in (4, 16):
        assert rows(n) == want, n


def test_score_pairs_adds_no_exchange_before_its_python_stage(spark):
    """No fixed-count repartition in ``score_pairs``' plan, and one
    Arrow UDF node (phase 2). Each task of the UDF's stage runs its own
    pandas/pyarrow worker, so a spread before it multiplies Python
    memory by the spread's width (perfbench er_pipeline on 4 cores: 4
    workers, py_peak_rss_mb ~471 MB, vs ~268 MB with one)."""
    pairs, features = _scoring_inputs(spark)
    scored = score_pairs(pairs.localCheckpoint(eager=True), features,
                         PipelineConfig().threshold)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
