"""Tests for the corpus-shaping operators added late in round 2:
connected-components dedup clustering, deterministic hash sampling,
per-domain caps, token-budget packing, repetition signals."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from datafusion_python_spark.operators.cluster import (
    canonical_docs,
    connected_components,
    dedup_clusters,
)
from datafusion_python_spark.operators.sampling import (
    domain_cap,
    hash_sample,
    mixture_sample,
    token_pack,
)
from datafusion_python_spark.operators.text import repetition_features


def test_connected_components_chain(spark):
    # 1-2-3-4 chain (diameter 3, needs >1 iteration) plus isolated pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_bridge_merge(spark):
    # two cliques joined by one bridge edge collapse into one component
    edges = [(1, 2), (1, 3), (2, 3), (5, 6), (5, 7), (6, 7), (3, 5)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    comps = set(
        r["component"] for r in connected_components(pairs).collect()
    )
    assert comps == {1}


def test_dedup_clusters_and_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 4), (4, 5)], "id_a long, id_b long")
    clustered = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs).collect()
    }
    assert clustered == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 1}
    kept = sorted(r["doc_id"] for r in canonical_docs(docs, pairs).collect())
    assert kept == [0, 1, 2, 3]


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _canonical_by_clusters(docs, pairs, id_col="doc_id"):
    """canonical_docs' defining form: the docs whose dedup_clusters id is
    their own (docs semi-joined with that keep set)."""
    keep = (
        dedup_clusters(docs, pairs, id_col=id_col)
        .filter(F.col(id_col) == F.col("cluster_id"))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


@pytest.mark.parametrize(
    "pair_rows",
    [
        # chain 1-2-4; 5's min neighbour 3 and 99 are absent from docs;
        # 98 (absent) pairs with its smaller doc 7; 100-101 both absent
        [(1, 2), (2, 4), (3, 5), (5, 99), (98, 7), (100, 101)],
        # a null endpoint and a self-loop
        [(None, 4), (4, 4), (1, 2)],
        # docs with no pairs at all
        [],
    ],
)
def test_canonical_docs_matches_cluster_definition(spark, pair_rows):
    docs = spark.createDataFrame(
        [(0, "a"), (1, "b"), (1, "b2"), (2, "c"), (None, "n1"), (None, "n2"),
         (4, "d"), (5, "e"), (7, "g")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    got = _sorted_rows(canonical_docs(docs, pairs))
    assert got == _sorted_rows(_canonical_by_clusters(docs, pairs))
    # null ids never survive; duplicate ids survive together
    assert all(r[0] is not None for r in got)
    assert [r for r in got if r[0] == 1] == [(1, "b"), (1, "b2")]


@pytest.mark.parametrize("seed", range(4))
def test_one_pass_edges_match_union_form(spark, seed):
    import random

    from datafusion_python_spark.operators.cluster import _symmetric_edges

    rng = random.Random(seed)
    n = 40
    rows = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    rows += [rows[0], (rows[1][1], rows[1][0])]  # a duplicate and a reversed pair
    if seed % 2:
        rows.append((None, 3))
    # mixed widths: the one-pass array must coerce like the union does
    schema = "id_a int, id_b long" if seed == 3 else "id_a long, id_b long"
    pairs = spark.createDataFrame(rows, schema)
    union = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .distinct()
    )
    one_pass = _symmetric_edges(pairs, "id_a", "id_b")
    assert one_pass.schema == union.schema
    assert _sorted_rows(one_pass) == _sorted_rows(union)

    # and the fixpoint over them is union-find's min-label partition
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in rows:
        ends = [find(x) for x in (a, b) if x is not None]  # a null end: just a node
        parent[max(ends)] = min(ends)
    want = {x: find(x) for x in parent}
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
        if r["node"] is not None
    }
    assert got == want


def _star_edges_by_join(sig_df, id_col, num_bands):
    """The cache + bucket-min aggregate + join-back form of the star
    edges, kept here as the reference for the window form. Returns the
    edges and the cached banded table (the caller releases it)."""
    from datafusion_python_spark.operators._util import shuffle_partitions
    from datafusion_python_spark.operators.dedup import _banded

    n_part = shuffle_partitions(sig_df.sparkSession)
    banded = (
        _banded(sig_df, id_col, num_bands, "minhash")
        .repartition(n_part, "band", "band_hash")
        .cache()
    )
    banded.count()
    mins = banded.groupBy("band", "band_hash").agg(
        F.min(id_col).alias("id_a"), F.count("*").alias("_sz")
    )
    edges = (
        banded.join(mins.filter(F.col("_sz") > 1), ["band", "band_hash"])
        .filter(F.col(id_col) != F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
        .distinct()
    )
    return edges, banded


@pytest.mark.parametrize("seed", range(4))
def test_lsh_star_window_matches_join_form(spark, seed):
    import random

    from datafusion_python_spark.operators.dedup import lsh_star_edges

    rng = random.Random(seed)
    bands, width = 4, 2
    # signature values from a small alphabet, so buckets collide
    rows = [
        (i, [rng.randrange(4) for _ in range(bands * width)]) for i in range(60)
    ]
    rows += [(None, [rng.randrange(4) for _ in range(bands * width)]) for _ in range(3)]
    rows += [(rows[j][0], [rng.randrange(4) for _ in range(bands * width)]) for j in (1, 2)]
    rows.append((rows[3][0], rows[3][1]))  # an exact duplicate row
    # singleton buckets: values no other row draws
    rows += [(100 + i, [1000 + 10 * i + b for b in range(bands * width)]) for i in range(5)]
    # one hot bucket: band 0 equal across 80 rows (and a null id in it)
    hot = [7] * width
    rows += [(200 + i, hot + [rng.randrange(50) for _ in range(width * (bands - 1))]) for i in range(80)]
    rows.append((None, hot + [0] * (width * (bands - 1))))
    rng.shuffle(rows)
    sig = spark.createDataFrame(rows, "doc_id long, minhash array<bigint>")

    want, banded = _star_edges_by_join(sig, "doc_id", bands)
    try:
        want_rows = _sorted_rows(want)
    finally:
        banded.unpersist()
    got = lsh_star_edges(sig, "doc_id", num_bands=bands)
    assert got.schema == want.schema
    assert _sorted_rows(got) == want_rows
    # the hot bucket's members all point at its minimum
    assert {(200, 200 + i) for i in range(1, 80)} <= set(want_rows)


def _chain_docs(spark, sf_dir):
    """sf0.001 documents plus null ids and a duplicated id (one id, two
    texts)."""
    from datafusion_python_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(None, "alpha beta gamma delta"), (None, "x y z"), (3, "an extra copy of id three")],
        "doc_id long, text string",
    )
    return docs.unionByName(extra)


def test_canonical_docs_same_with_and_without_persist(spark, sf_dir):
    from datafusion_python_spark.operators.dedup import lsh_star_edges, minhash_signature

    docs = _chain_docs(spark, sf_dir)
    sig = minhash_signature(docs, "text", num_hashes=32, shingle_k=3)
    pairs = lsh_star_edges(sig, "doc_id", num_bands=8)
    # the canonical_docs body without the persist, computed before
    # anything is cached
    drop = connected_components(pairs).filter(F.col("node") != F.col("component"))
    want = _sorted_rows(
        docs.filter(F.col("doc_id").isNotNull()).join(
            drop, docs["doc_id"] == drop["node"], "left_anti"
        )
    )
    try:
        got = canonical_docs(docs, pairs)
        # the cache contract: docs stay cached after the call
        assert docs.is_cached
        assert _sorted_rows(got) == want
    finally:
        docs.unpersist()
    assert 0 < len(want) < 500


def _subtrees(tree: str, name: str):
    """The formatted-plan subtrees rooted at operators called ``name``
    (each a list of the operator lines below it)."""
    lines = tree.split("\n")

    def node(line):
        m = re.search(r"[A-Za-z=]", line)
        return (m.start(), line[m.start():]) if m else (len(line), "")

    for i, line in enumerate(lines):
        depth, text = node(line)
        if text.startswith(name + " "):
            below = []
            for rest in lines[i + 1:]:
                d, t = node(rest)
                if d <= depth:
                    break
                below.append(t)
            yield below


def test_chain_computes_docs_once(spark, sf_dir):
    # docs -> minhash -> star edges -> canonical_docs(docs, pairs): the
    # signature kernel (inside connected components' edge build) and
    # the final anti-join both read the cached docs, so every doc row
    # passes the upstream pass-through exactly once
    from datafusion_python_spark.operators.dedup import lsh_star_edges, minhash_signature

    base = _chain_docs(spark, sf_dir)
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            seen.add(b.num_rows)
            yield b

    docs = base.mapInArrow(count_rows, base.schema)
    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsList().size()
    try:
        sig = minhash_signature(docs, "text", num_hashes=32, shingle_k=3)
        pairs = lsh_star_edges(sig, "doc_id", num_bands=8)
        canonical_docs(docs, pairs).write.format("noop").mode("overwrite").save()
    finally:
        docs.unpersist()
    assert seen.value == base.count()

    # the query that fills connected components' edge cache: its
    # signature kernel (the MapInArrow that has the pass-through below
    # it) reads the docs' InMemoryTableScan
    kernels = []
    executions = store.executionsList()
    for i in range(first, executions.size()):
        tree = executions.apply(i).physicalPlanDescription().split("\n\n(1)", 1)[0]
        kernels += [
            below for below in _subtrees(tree, "MapInArrow")
            if any(t.startswith("MapInArrow ") for t in below)
        ]
    assert kernels
    assert all(any(t.startswith("InMemoryTableScan ") for t in below) for below in kernels)


def test_hash_sample_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in hash_sample(df, "k", 0.2).collect())
    b = sorted(r["k"] for r in hash_sample(df.repartition(7), "k", 0.2).collect())
    assert a == b  # layout-independent
    assert 0.1 < len(a) / 2000 < 0.3  # ~rate
    assert hash_sample(df, "k", 0.0).count() == 0
    assert hash_sample(df, "k", 1.0).count() == 2000
    with pytest.raises(ValueError):
        hash_sample(df, "k", 1.5)


def test_mixture_sample_quotas_and_determinism(spark):
    import math

    # 3 domains with counts 900 / 90 / 10: alpha=0.5 up-weights the tail
    rows = (
        [(i, "big") for i in range(900)]
        + [(1000 + i, "mid") for i in range(90)]
        + [(2000 + i, "small") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df, "source", "doc_id", total=100, alpha=0.5)
    kept = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    norm = math.sqrt(900) + math.sqrt(90) + math.sqrt(10)
    expect = {
        d: min(c, math.floor(100 * math.sqrt(c) / norm + 1e-6))
        for d, c in (("big", 900), ("mid", 90), ("small", 10))
    }
    assert kept == expect
    # alpha=0.5 gives the 1%-share domain ~7% of the draw (vs 1 doc at alpha=1)
    assert kept["small"] >= 5
    # deterministic across partition layouts, and nested in `total`
    ids = sorted(r["doc_id"] for r in out.collect())
    ids_repart = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df.repartition(13), "source", "doc_id", total=100, alpha=0.5
        ).collect()
    )
    assert ids == ids_repart
    ids_half = sorted(
        r["doc_id"]
        for r in mixture_sample(df, "source", "doc_id", total=50, alpha=0.5).collect()
    )
    assert set(ids_half) <= set(ids)
    with pytest.raises(ValueError):
        mixture_sample(df, "source", "doc_id", total=0)


def test_domain_cap(spark):
    rows = [(d, i, 100 - i) for d in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_chars long")
    out = domain_cap(df, "source", 3)
    per = out.groupBy("source").count().collect()
    assert all(r["count"] == 3 for r in per)
    # best-first: largest n_chars kept
    kept_a = sorted(
        r["doc_id"] for r in out.filter(F.col("source") == "a").collect()
    )
    assert kept_a == [0, 1, 2]


def test_token_pack_bins(spark):
    df = spark.createDataFrame(
        [(i, "s", 700) for i in range(10)], "doc_id long, source string, tokens long"
    )
    out = token_pack(df, "tokens", 2000, group_col="source").orderBy("doc_id").collect()
    bins = [r["pack_bin"] for r in out]
    # starts: 0,700,1400,2100,... -> bins 0,0,0,1,1,1,2,2,2,3
    assert bins == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]
    # bins are contiguous from 0 and non-decreasing in doc order
    assert bins[0] == 0 and all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))


from hypothesis import HealthCheck, given, settings, strategies as st


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    # oracle: plain union-find with min-id canonicalization
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected


def test_redact_pii(spark):
    from datafusion_python_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com or call +1 (555) 123-4567 now"),
            (2, "ssn 123-45-6789 from 10.0.0.1"),
            (3, "clean text no pii"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert "[EMAIL]" in out[1]["text_redacted"]
    assert "[PHONE]" in out[1]["text_redacted"]
    assert "bob@" not in out[1]["text_redacted"]
    assert "[SSN]" in out[2]["text_redacted"]
    assert "[IP]" in out[2]["text_redacted"]
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[3]["text_redacted"] == "clean text no pii"
    assert out[3]["n_email"] == out[3]["n_ssn"] == out[3]["n_ip"] == 0


def test_repetition_features(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "go go go stop stop go"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert out[1]["dup_word_frac"] == 0.75  # 1 distinct of 4
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[1]["dup_2gram_frac"] == pytest.approx(2 / 3, abs=1e-4)  # a_a ×3
    assert out[3]["dup_word_frac"] == pytest.approx(1 - 2 / 6, abs=1e-4)
    assert out[4]["dup_word_frac"] == 0.0 and out[4]["dup_2gram_frac"] == 0.0


@given(
    tokens=st.lists(st.integers(1, 3000), min_size=1, max_size=40),
    budget=st.sampled_from([500, 2000, 8000]),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_token_pack_invariants(spark, tokens, budget):
    rows = [(i, "g", int(t)) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens long")
    out = token_pack(df, "tokens", budget, group_col="source").orderBy("doc_id").collect()
    bins = [r["pack_bin"] for r in out]
    # bins start at 0, are non-decreasing, and never skip more than the
    # doc's own token span allows
    assert bins[0] == 0
    assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
    # each doc's bin equals floor(start_offset / budget)
    start = 0
    for r in out:
        assert r["pack_bin"] == start // budget
        start += r["tokens"]


@given(rate=st.sampled_from([0.05, 0.25, 0.5, 0.75]))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_hash_sample_rate_accuracy(spark, rate):
    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    got = hash_sample(df, "k", rate).count() / 4000
    assert abs(got - rate) < 0.05  # md5 prefix is uniform


def test_stratified_sample_nested_and_exact(spark):
    from datafusion_python_spark.operators.sampling import stratified_sample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = stratified_sample(
        df, "source", {"a": 1.0, "b": 0.5, "c": 0.0}, "doc_id", default_rate=0.0
    )
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src.get("a") == 1000  # rate 1.0 keeps everything
    assert "c" not in by_src  # rate 0.0 keeps nothing
    assert 400 < by_src.get("b", 0) < 600  # ~0.5
    # nesting: the 0.25 sample of b is a subset of the 0.5 sample
    b50 = {r["doc_id"] for r in stratified_sample(df, "source", {"b": 0.5}, "doc_id").collect()}
    b25 = {r["doc_id"] for r in stratified_sample(df, "source", {"b": 0.25}, "doc_id").collect()}
    assert b25 <= b50
    # per-stratum selection matches the global hash_sample at the same rate
    b_only = df.filter(F.col("source") == "b")
    assert b50 == {r["doc_id"] for r in hash_sample(b_only, "doc_id", 0.5).collect()}


def test_stratified_sample_validates_rates(spark):
    from datafusion_python_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        stratified_sample(df, "source", {"a": 1.5}, "doc_id")
    with pytest.raises(ValueError):
        stratified_sample(df, "source", {"a": 0.5}, "doc_id", default_rate=-0.1)


def test_decontaminate_flags_planted_overlap(spark):
    from datafusion_python_spark.operators.decontaminate import (
        contamination_report,
        decontaminate,
    )

    eval_df = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains "quick brown fox jumps" → 2 shared 3-grams
            (1, "a quick brown fox jumps today"),
            # no 3-gram overlap
            (2, "completely different words entirely here now"),
            # case/whitespace-normalized match: 1 shared 3-gram
            (3, "THE   Quick   BROWN cat sat"),
            # too short for any 3-gram
            (4, "quick brown"),
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r["n_collisions"] for r in contamination_report(corpus, eval_df, n=3).collect()}
    assert rep == {1: 2, 3: 1}
    clean = decontaminate(corpus, eval_df, n=3)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 4]
    # min_overlap=2 spares the single-collision doc
    clean2 = decontaminate(corpus, eval_df, n=3, min_overlap=2)
    assert sorted(r["doc_id"] for r in clean2.collect()) == [2, 3, 4]


def test_decontaminate_hash_vs_string_grams_agree(spark, sf_dir):
    from datafusion_python_spark.operators.decontaminate import contamination_report
    from datafusion_python_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    hashed = contamination_report(corpus, eval_df, n=3, hash_grams=True)
    strings = contamination_report(corpus, eval_df, n=3, hash_grams=False)
    assert sorted(map(tuple, hashed.collect())) == sorted(map(tuple, strings.collect()))


def test_score_linear_matches_python_reference(spark):
    import hashlib

    from datafusion_python_spark.operators.scoring import (
        demo_weights,
        score_linear,
        sigmoid,
    )

    weights = demo_weights(16)
    texts = [
        (1, "The quick   brown fox"),
        (2, "one"),
        (3, ""),
        (4, "repeat repeat repeat"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in score_linear(df, "text", weights, bias=0.25, hasher="md5").collect()
    }

    def py_score(text):
        words = [w for w in text.lower().split() if w]
        if not words:
            return sigmoid(0.25)
        acc = sum(
            weights[int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 16]
            for w in words
        )
        return sigmoid(0.25 + acc / len(words))

    for doc_id, text in texts:
        assert got[doc_id] == pytest.approx(py_score(text), abs=1e-12)


def test_quality_filter_threshold_and_hashers(spark):
    from datafusion_python_spark.operators.scoring import (
        demo_weights,
        quality_filter,
        score_linear,
    )

    df = spark.createDataFrame(
        [(i, f"word{i} common text here") for i in range(50)], "doc_id long, text string"
    )
    weights = demo_weights(32)
    scored = score_linear(df, "text", weights)  # default xxhash64 path runs
    assert scored.filter(F.col("score").isNull()).count() == 0
    kept = quality_filter(df, "text", weights, threshold=0.5)
    manual = scored.filter(F.col("score") >= 0.5)
    assert kept.count() == manual.count()
    with pytest.raises(ValueError):
        score_linear(df, "text", [])
    with pytest.raises(ValueError):
        score_linear(df, "text", weights, hasher="crc32").collect()


def test_quantize_roundtrip_cosine_and_bounds(spark, sf_dir):
    import math

    from datafusion_python_spark.operators.quantize import (
        dequantize,
        quantize_embeddings,
    )
    from datafusion_python_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dq = dequantize(quantize_embeddings(emb))
    # codes stay in [-127, 127] and max |code| hits 127 for nonzero vectors
    stats = dq.select(
        F.array_min("q_emb").alias("lo"),
        F.array_max("q_emb").alias("hi"),
        F.array_max(F.transform("q_emb", lambda q: F.abs(q))).alias("amax"),
    ).collect()
    assert all(-127 <= r["lo"] and r["hi"] <= 127 for r in stats)
    assert all(r["amax"] == 127 for r in stats)
    # dequantized cosine vs original stays >= 0.999
    rows = dq.select("embedding", "embedding_dq").limit(50).collect()
    for r in rows:
        x, y = r["embedding"], r["embedding_dq"]
        dot = sum(a * b for a, b in zip(x, y))
        nx = math.sqrt(sum(a * a for a in x))
        ny = math.sqrt(sum(b * b for b in y))
        assert dot / (nx * ny) >= 0.999


def test_quantize_zero_vector_safe(spark):
    from datafusion_python_spark.operators.quantize import (
        quantize_embeddings,
        reconstruction_rmse,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    out = reconstruction_rmse(quantize_embeddings(df)).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[1]["q_scale"] == 0.0
    assert by_id[1]["q_emb"] == [0, 0, 0]
    assert by_id[1]["recon_rmse"] == 0.0
    assert by_id[2]["q_emb"][1] == -127  # absmax element pins the range
    assert by_id[2]["recon_rmse"] <= by_id[2]["q_scale"] / 2
