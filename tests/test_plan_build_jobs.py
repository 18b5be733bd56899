"""Spark jobs that run while an operator's DataFrame is being built.

A job run at build time is work the caller's query repeats when it
executes the returned plan, so building should run none. Two pins:

- every ``spread_small_input`` call site builds with zero jobs, on a
  scan behind a broadcast join and on a small shuffled input, and the
  spread decision itself is right for both (and for wide inputs);
  ``lsh_star_edges`` builds with zero jobs on a shuffled input too;
- the operators that DO act while building (checkpoints, counts,
  collects) are listed by name; a new one fails the inventory test
  until it is added here with a reason.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from datafusion_python_spark.operators._util import spread_small_input
from datafusion_python_spark.plans import explain_str
from datafusion_python_spark.tables import load_table

from conftest import build_jobs  # noqa: E402


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _behind_broadcast(df, key):
    """``df`` as the streamed side of a broadcast anti-join (the shape of
    the curation chain's decontaminate step)."""
    small = df.filter(F.col(key) % 7 == 0).select(F.col(key).alias("_k"))
    return df.join(F.broadcast(small), df[key] == small["_k"], "left_anti")


def _shuffled(df, key):
    """A small input whose partition count AQE decides at run time."""
    return df.dropDuplicates([key])


def _spread_sites():
    from datafusion_python_spark.operators.dedup import (
        _simhash_word_hashes,
        minhash_signature,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from datafusion_python_spark.operators.similarity import cosine_near_dup_pairs
    from datafusion_python_spark.operators.substring import span_index

    return {
        "span_index": ("documents", "doc_id", lambda d: span_index(d, "text", "doc_id", k=4)),
        "minhash_signature": (
            "documents",
            "doc_id",
            lambda d: minhash_signature(d, "text", num_hashes=8, shingle_k=1),
        ),
        "_simhash_word_hashes": (
            "documents",
            "doc_id",
            lambda d: _simhash_word_hashes(d, "text", "xxhash64"),
        ),
        "ngram_jaccard_pairs": (
            "documents",
            "doc_id",
            lambda d: ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5),
        ),
        "ngram_jaccard_pairs_prefix": (
            "documents",
            "doc_id",
            lambda d: ngram_jaccard_pairs_prefix(d, "doc_id", "text", threshold=0.5),
        ),
        "cosine_near_dup_pairs": (
            "embeddings",
            "vec_id",
            lambda d: cosine_near_dup_pairs(d, dim=16),
        ),
        # pipe_curation_e2e spreads the documents scan itself
        "pipe_curation_e2e": ("documents", "doc_id", spread_small_input),
    }


@pytest.mark.parametrize("shape", ["behind_broadcast", "shuffled"])
@pytest.mark.parametrize("site", sorted(_spread_sites()))
def test_spread_sites_build_without_jobs(spark, sf_dir, site, shape):
    table, key, build = _spread_sites()[site]
    base = load_table(spark, sf_dir, table)
    df = _behind_broadcast(base, key) if shape == "behind_broadcast" else _shuffled(base, key)
    jobs, out = build_jobs(spark, lambda: build(df))
    assert jobs == 0, f"{site} on a {shape} input ran {jobs} job(s) while building"
    # the few-split test tables are small either way: the input is spread
    assert "RoundRobinPartitioning" in explain_str(out)


def test_lsh_star_edges_builds_without_jobs(spark, sf_dir):
    # the star edges are one lazy window pass over the signatures: on a
    # small shuffled input nothing runs until the caller's query does
    from datafusion_python_spark.operators.dedup import lsh_star_edges, minhash_signature

    sig = minhash_signature(_shuffled(_docs(spark, sf_dir), "doc_id"), "text", num_hashes=8)
    jobs, _ = build_jobs(spark, lambda: lsh_star_edges(sig, "doc_id", num_bands=4))
    assert jobs == 0, f"lsh_star_edges ran {jobs} job(s) while building"


def test_spread_decision_from_plan(spark, sf_dir):
    target = spark.sparkContext.defaultParallelism

    def decide(df):
        jobs, out = build_jobs(spark, lambda: spread_small_input(df))
        assert jobs == 0
        return out is not df

    # a scan with fewer splits than cores spreads, even behind broadcasts
    # (the sf0.001 documents file is one split)
    docs = _docs(spark, sf_dir)
    assert decide(docs)
    assert decide(_behind_broadcast(docs, "doc_id"))
    # a streamed path that is already wide passes through by identity:
    # range slices, a repartition(n) exchange, both behind a broadcast
    wide_range = spark.range(0, 1000, 1, target)
    assert not decide(wide_range)
    assert not decide(_behind_broadcast(wide_range, "id"))
    wide = spark.range(0, 1000).repartition(target)
    assert not decide(wide)
    assert not decide(_behind_broadcast(wide.withColumn("v", F.col("id") * 2), "id"))
    assert decide(spark.range(0, 1000, 1, 1))
    # a shuffle AQE sizes at run time spreads only when the optimized
    # plan is small: an 80 TB-estimate input is left alone, unexecuted
    assert decide(spark.range(0, 1000).repartition("id"))
    assert not decide(spark.range(0, 10**13).repartition("id"))
    assert not decide(spark.range(0, 10**13).groupBy(F.col("id") % 5).count())
    # a streaming frame has no batch plan; it passes through
    stream = spark.readStream.format("rate").load()
    assert spread_small_input(stream) is stream


# Driver actions allowed while an operator's DataFrame is built, by
# (module, top-level function). Each runs Spark jobs before the caller's
# query; CHANGES.md records whether later work reuses or recomputes them.
_EAGER = {
    # seed label checkpoint (eager), per-round lazy checkpoint + the
    # convergence count that materializes it
    ("cluster", "connected_components"): {"count", "localCheckpoint"},
    # banded table checkpoint shared by both self-join branches
    ("dedup", "lsh_candidate_pairs"): {"localCheckpoint"},
    # node count (a scalar in every rank) + periodic lineage checkpoint
    ("graph", "pagerank"): {"count", "localCheckpoint"},
    # embedding-dimension probe (one row)
    ("projection", "random_projection"): {"first"},
    # max_cell path: assignment checkpoint + cell-size collect for LPT
    ("semdedup", "semantic_dedup"): {"collect", "localCheckpoint"},
    # seed vectors + one centroid collect per refinement pass
    ("similarity", "ivf_centroids"): {"collect"},
}

_ACTIONS = {
    "checkpoint",
    "collect",
    "count",
    "first",
    "foreach",
    "foreachPartition",
    "getNumPartitions",
    "head",
    "isEmpty",
    "localCheckpoint",
    "show",
    "take",
    "toArrow",
    "toLocalIterator",
    "toPandas",
}


def _build_time_calls(fn: ast.FunctionDef):
    """Attribute calls in ``fn``'s own body; nested functions and lambdas
    (kernels and UDFs that run on executors) are not descended into."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            yield node
        stack.extend(ast.iter_child_nodes(node))


def _eager_inventory() -> dict[tuple[str, str], set[str]]:
    import datafusion_python_spark.operators as ops

    found: dict[tuple[str, str], set[str]] = {}
    for path in sorted(pathlib.Path(ops.__file__).parent.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for call in _build_time_calls(fn):
                name, recv = call.func.attr, call.func.value
                if name not in _ACTIONS:
                    continue
                # F.count / F.first are column functions, not actions
                if isinstance(recv, ast.Name) and recv.id == "F":
                    continue
                found.setdefault((path.stem, fn.name), set()).add(name)
    return found


def test_eager_set_pinned():
    assert _eager_inventory() == _EAGER
