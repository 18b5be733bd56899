"""Planted-ground-truth invariants of the XL scale harness at test size.

tools/pipescale_xl.py verifies the curation/similarity operators against
closed-form planted truth at 10M docs / 4M vectors; these tests pin the
same invariants at pytest size so a regression in the operators (or the
generators) is caught by CI, not only by the long-running artifact run.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

import tools.pipescale_xl as xl


@pytest.fixture(scope="module", autouse=True)
def _work(tmp_path_factory):
    old = xl.WORK
    xl.WORK = str(tmp_path_factory.mktemp("planted_xl"))
    yield
    shutil.rmtree(xl.WORK, ignore_errors=True)
    xl.WORK = old


def test_docs_planted_truth(spark):
    n = 5_000
    res = xl.run_size(spark, n)
    assert res["exact_dedup"]["ok"], res["exact_dedup"]
    assert res["exact_dedup"]["out_rows"] == 9 * n // 10
    assert res["minhash_lsh_pairs"]["ok"], res["minhash_lsh_pairs"]
    # recall is exactly 1.0 with zero extras on this corpus
    assert res["minhash_lsh_pairs"]["out_rows"] == 3 * n // 10
    assert res["simhash_pairs"]["ok"], res["simhash_pairs"]
    assert res["text_stats"]["out_rows"] == n


def test_embeddings_planted_truth(spark):
    n = 4_000
    res = xl.run_emb_size(spark, n)
    assert res["semantic_dedup_arrow"]["ok"], res["semantic_dedup_arrow"]
    assert res["semantic_dedup_arrow"]["out_rows"] == 3 * n // 4
    assert res["cosine_topk"]["ok"], res["cosine_topk"]
    assert res["ivf_ann"]["ok"], res["ivf_ann"]


def test_doc_generator_shape(spark):
    """The planted cells are what the closed forms assume: row b+8
    byte-equal to row b, row b+9 = row b + one unique tail token."""
    d = xl.build(spark, 1_000)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    base = docs.filter(F.pmod("doc_id", F.lit(10)) == 0).select(
        (F.col("doc_id") + 8).alias("doc_id"), F.col("text").alias("base_text")
    )
    j = docs.join(base, "doc_id")
    assert j.count() == 100
    assert j.filter(F.col("text") != F.col("base_text")).count() == 0
    near = docs.filter(F.pmod("doc_id", F.lit(10)) == 9).select(
        "doc_id",
        F.col("text").alias("near_text"),
    )
    base9 = docs.filter(F.pmod("doc_id", F.lit(10)) == 0).select(
        (F.col("doc_id") + 9).alias("doc_id"), F.col("text").alias("base_text")
    )
    jn = near.join(base9, "doc_id")
    bad = jn.filter(
        F.col("near_text")
        != F.concat(F.col("base_text"), F.lit(" t"), F.col("doc_id").cast("string"))
    ).count()
    assert bad == 0


def test_curation_chain_planted_truth(spark):
    """r12 (VERDICT r11 ask #3): every stage of the pipe_curation_e2e
    composition matches the closed-form planted model at pytest size —
    the same helper the XL artifact run uses, so a regression in any
    stage operator (or in the model's mirror arithmetic) fails here
    before the long-running artifact run can be poisoned."""
    n = 4_000
    res = xl.run_curation_size(spark, n, per_stage=True)
    assert res["ok"], res.get("mismatches", res)
    # the model itself must see the planted structure, not degenerate
    m = res["model"]
    assert m["decontam"] < n  # decontamination dropped something
    assert m["strip_empty"] > 0 and m["strip_single"] > 0
    assert m["canonical"] == m["decontam"] - (m["strip_empty"] - 1)
    assert 0 < m["packed"] <= m["sampled"] * 2
