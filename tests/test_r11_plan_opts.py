"""Round-11 optimization pins: structural plan assertions for the
operator-internals changes (OPTIMIZATION_r11.md §2, §4, §5, §6).

Not timing tests — each asserts the plan property the optimization
bought, so a planner/refactor regression that silently reintroduces the
removed work fails loudly.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from datafusion_python_spark.plans import explain_str
from datafusion_python_spark.tables import load_table


# shared with test_similarity_arrow via conftest (ADVICE r11 #3)
from conftest import build_jobs, plan_tree as _tree  # noqa: E402


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_doc_terms_single_corpus_pass(spark, sf_dir):
    # §5: dl rides the explode — ONE corpus scan, no per-doc attach join
    from datafusion_python_spark.operators.ranking import doc_terms

    t = doc_terms(_docs(spark, sf_dir), "doc_id", "text")
    tree = _tree(explain_str(t))
    assert len(re.findall(r"Scan parquet", tree)) == 1
    assert "Join" not in tree
    # and the output contract is unchanged
    assert t.columns == ["doc_id", "term", "tf", "dl"]


def test_tfidf_no_dl_join(spark, sf_dir):
    # §2: the dl attach join is gone from tf_idf; one corpus-scan subtree
    # (AQE may still plan the tf/df branches as two identical scans and
    # reuse the exchange at runtime — assert no join carries dl)
    from datafusion_python_spark.operators.ranking import tf_idf

    plan = explain_str(tf_idf(_docs(spark, sf_dir), "doc_id", "text", top_terms=5))
    assert "dl" not in re.findall(r"Join \w+, \[([^\]]*)\]", plan).__str__()


def test_lsh_star_exchanges_only_on_bucket_key(spark, sf_dir):
    # star form: the banded rows cross ONE exchange, keyed on the
    # bucket (band, band_hash), into the bucket-min window; the only
    # other hash exchange is the final distinct's. No cache, no join
    # (a self-join's branches would each recompute the signatures), and
    # building the frame runs nothing.
    from datafusion_python_spark.operators.dedup import (
        lsh_star_edges,
        minhash_signature,
    )

    sig = minhash_signature(_docs(spark, sf_dir), "text", num_hashes=32, shingle_k=1)
    jobs, edges = build_jobs(spark, lambda: lsh_star_edges(sig, "doc_id", num_bands=8))
    assert jobs == 0
    plan = explain_str(edges)
    tree = _tree(plan)
    assert "InMemoryRelation" not in tree and "InMemoryTableScan" not in tree
    assert "Join" not in tree
    assert len(re.findall(r"[+:]- Window \(\d+\)", tree)) == 1
    # hash exchanges by key (expression ids and partition count dropped);
    # the input's own spread exchange is round-robin, not a hash
    keys = re.findall(r"Arguments: hashpartitioning\(([^)]*), \d+\)", plan)
    assert sorted(re.sub(r"#\d+L?", "", k) for k in keys) == [
        "band, band_hash",
        "id_a, id_b",
    ]


def test_lsh_pairs_keeps_checkpoint_not_pinned_cache(spark, sf_dir):
    # §4 rejection: the pair form must NOT pin the banded layout (a fixed
    # InMemoryRelation partitioning would disable AQE skew-splitting on
    # the quadratic self-join) — it stages via localCheckpoint instead.
    from datafusion_python_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    sig = minhash_signature(_docs(spark, sf_dir), "text", num_hashes=32, shingle_k=1)
    pairs = lsh_candidate_pairs(sig, "doc_id", num_bands=8)
    tree = _tree(explain_str(pairs))
    assert "InMemoryTableScan" not in tree
    assert "ExistingRDD" in tree


def test_neardup_lsh_sets_recomputed_not_staged(spark, sf_dir):
    # §6 REVERSAL: the shingle-set attach legs must stay parquet-derived
    # (two pruned corpus scans), NOT a staged checkpoint RDD — the staged
    # form won a 64x synthetic A/B but measured 25 s -> 431/1028 s on the
    # real sf0.1 corpus (stat-less LogicalRDD => both legs broadcast the
    # whole shingle-array table; serial checkpoint materialization).
    from datafusion_python_spark.operators.dedup import near_dup_pairs_lsh

    pairs = near_dup_pairs_lsh(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.9, num_bands=4, shingle_k=1
    )
    tree = _tree(explain_str(pairs))
    # the two token legs AND the two thin size legs (the §11 length
    # filter) scan the corpus parquet directly — 4 pruned scans, no
    # staged set table
    assert len(re.findall(r"Scan parquet", tree)) == 4
    # only the banded candidate table is a staged RDD (its checkpoint is
    # the lsh_candidate_pairs skew-flexibility design, kept)
    assert len(re.findall(r"ExistingRDD", tree)) <= 2


def test_neardup_lsh_verify_is_count_form(spark, sf_dir):
    # §8: for threshold > 0 the verify is the inverted-index COUNT form
    # (two token joins + one aggregate), NOT the array-attach form whose
    # jaccard CASE Catalyst pushes into the join condition and
    # re-evaluates array_intersect up to 3x per probed pair (measured
    # 5-500+ s swings at sf0.1 vs a stable 14-23 s for the count form).
    from datafusion_python_spark.operators.dedup import near_dup_pairs_lsh

    pairs = near_dup_pairs_lsh(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.9, num_bands=4, shingle_k=1
    )
    plan = explain_str(pairs)
    assert "array_intersect" not in plan
    # the shared-shingle count aggregates ABOVE the joins, so the
    # threshold filter cannot be pushed into a join condition
    assert "HashAggregate" in _tree(plan)
    # degenerate threshold <= 0 keeps the array form (i = 0 pairs must
    # survive), and its output contract is unchanged
    degen = near_dup_pairs_lsh(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.0, num_bands=4, shingle_k=1
    )
    assert "array_intersect" in explain_str(degen)


def test_minhash_signature_spreads_small_scan(spark, sf_dir):
    # §9: a few-partition corpus scan is round-robin-spread to the
    # session's default parallelism BEFORE the per-doc signature fold
    # (the costliest map work in the module rode 1 task at sf0.1:
    # medians 13.3 -> 5.7 s). No-op when the scan already has >= cores
    # partitions, so production-scale inputs add no exchange.
    from datafusion_python_spark.operators._util import spread_small_input
    from datafusion_python_spark.operators.dedup import minhash_signature

    docs = _docs(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        sig = minhash_signature(docs, "text", num_hashes=8, shingle_k=1)
        assert "RoundRobinPartitioning" in explain_str(sig)
    # already-wide inputs pass through untouched (object identity)
    wide = spark.range(0, 1000).repartition(target)
    assert spread_small_input(wide) is wide


def test_connected_components_edges_pinned(spark, sf_dir):
    # §3: CC's static edge set is partitioned by the probe key and cached
    # (InMemoryRelation preserves the layout across iterations). The
    # returned labels are checkpointed, so assert on the operator's
    # internals via a single hand-built iteration instead: a cached
    # repartition(d) feeds the per-round join without a new exchange.
    from datafusion_python_spark.operators._util import shuffle_partitions

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_part = shuffle_partitions(spark)
        pairs = spark.range(0, 200).select(
            (F.col("id") % 37).alias("a"), ((F.col("id") * 13 + 5) % 37).alias("b")
        )
        edges = (
            pairs.select(F.col("a").alias("s"), F.col("b").alias("d"))
            .union(pairs.select(F.col("b").alias("s"), F.col("a").alias("d")))
            .distinct()
            .repartition(n_part, "d")
            .cache()
        )
        try:
            edges.count()
            labels = edges.select(F.col("s").alias("n")).distinct().withColumn(
                "comp", F.col("n")
            )
            joined = edges.join(
                labels.withColumnRenamed("n", "d"), "d"
            ).groupBy("s").agg(F.min("comp").alias("mc"))
            tree = _tree(explain_str(joined))
            # the edges leg reads the cache with no exchange above it:
            # no "Exchange" line directly between the join and the
            # InMemoryTableScan on the edges side
            m = re.search(
                r"SortMergeJoin[\s\S]*?InMemoryTableScan", tree
            )
            assert m is not None
            edges_leg = m.group(0)
            # the d-keyed edges leg contributes no new Exchange; the only
            # exchange(s) in the join window belong to the labels leg
            # (which is re-derived every round and must shuffle)
            sides = edges_leg.split(":- Sort", 1)
            assert "InMemoryTableScan" in sides[-1]
        finally:
            edges.unpersist()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_spread_at_expensive_map_sites(spark, sf_dir):
    # §10: the minhash spread (§9) extended to the other expensive
    # pre-exchange map stages, each A/B-verified at sf0.1 with
    # bit-identical output: simhash word hashes (JVM 17.5 -> 1.4 s,
    # arrow medians 1.47 -> 1.19 s), the jaccard tokenizes (prefix
    # medians 9.43 -> 8.89 s; plain feeds pipe_dedup_cluster at parity),
    # and cosine_near_dup_pairs' per-pair fold (21.5 -> 1.4 s: the exact
    # path's BroadcastNestedLoopJoin task count equals the scan's
    # partition count). No-op for already-wide production inputs.
    from datafusion_python_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        simhash,
    )
    from datafusion_python_spark.operators.similarity import cosine_near_dup_pairs

    docs = _docs(spark, sf_dir)
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= target:
        pytest.skip("scan already wide; spread is an identity no-op")
    for df in (
        simhash(docs, "text", hasher="md5"),
        ngram_jaccard_pairs_prefix(docs, "doc_id", "text", threshold=0.9),
        ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.9),
    ):
        assert "RoundRobinPartitioning" in explain_str(df)
    emb = load_table(spark, sf_dir, "embeddings")
    if emb.rdd.getNumPartitions() < target:
        pairs = cosine_near_dup_pairs(emb, dim=64, threshold=0.45, exact=True)
        assert "RoundRobinPartitioning" in explain_str(pairs)
    # §13: span_index's k-window hash explode (pipe_substring_dup
    # 3.0 -> 1.0 s, 4-0). tf_idf/bm25 measured and REJECTED (their
    # tokenize is cheap; the added exchange lost 0.91 -> 1.13 /
    # 0.60 -> 0.84 s) — no spread there.
    from datafusion_python_spark.operators.ranking import tf_idf
    from datafusion_python_spark.operators.substring import span_index

    assert "RoundRobinPartitioning" in explain_str(
        span_index(docs, k=10, hasher="md5")
    )
    assert "RoundRobinPartitioning" not in explain_str(
        tf_idf(docs, "doc_id", "text")
    )


def test_tpch_q2_single_exchange(spark, sf_dir):
    # §16: q2's aggregate and window share ONE exchange — hash(p_partkey)
    # clusters the (p_partkey, s_suppkey) groups (subset clustering) AND
    # satisfies the window's partitionBy(p_partkey); the old shape paid a
    # second exchange + a third sort between them (fresh-process sf≈1
    # probe: best 1.447 -> 1.238 s median-of-bests, output identical).
    from datafusion_python_spark.suite_tpch import TPCH_QUERIES

    q2 = TPCH_QUERIES["tpch_q2"][0](spark, sf_dir)
    tree = _tree(explain_str(q2))
    # exactly one shuffle exchange (\bExchange\b does not match
    # BroadcastExchange), and exactly one sort feeding agg AND window
    assert len(re.findall(r"\bExchange\b", tree)) == 1
    assert len(re.findall(r"\bSort\b", tree)) == 1
    assert "Window" in tree
