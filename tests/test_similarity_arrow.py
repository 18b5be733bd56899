"""The numpy/Arrow kernels behind the similarity and dedup operators,
checked against independent references: exact Python rankings, numpy
brute force, and the interpreted Spark folds the kernels replaced.
The near-dup and SemDeDup kernels, which still have JVM-join twins,
are checked against those twins."""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from datafusion_python_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_arrow,
    cosine_topk,
    ivf_assign,
    ivf_centroids,
)
from datafusion_python_spark.tables import load_table

QUERY = [((i * 37) % 13 - 6) / 7.0 for i in range(64)]


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _cosine(a, b):
    # sequential left-to-right folds, like an interpreted aggregate()
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _round6(x: float) -> float:
    # Spark's F.round: HALF_UP on the shortest decimal repr
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _exact_topk(rows, query, k):
    scored = [(i, _round6(_cosine(v, query))) for i, v in rows]
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


def test_cosine_topk_matches_exact_ranking(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    got = [(r.vec_id, r.cosine) for r in cosine_topk(emb, QUERY, k=15).collect()]
    assert got == _exact_topk(rows, QUERY, 15)
    assert len(got) == 15


def test_cosine_topk_arrow_many_partitions(spark, sf_dir):
    # local top-k per batch + global TakeOrdered must agree with the
    # single-partition answer regardless of the split
    emb = _emb(spark, sf_dir)
    one = [(r.vec_id, r.cosine) for r in cosine_topk(emb.coalesce(1), QUERY, k=5).collect()]
    many = [(r.vec_id, r.cosine) for r in cosine_topk(emb.repartition(16), QUERY, k=5).collect()]
    assert one == many


def _bruteforce_cells(rows, cents):
    m = np.array([v for _, v in rows], dtype=np.float64)
    c = np.array(cents, dtype=np.float64)
    cos = (m @ c.T) / np.outer(np.linalg.norm(m, axis=1), np.linalg.norm(c, axis=1))
    # np.argmax returns the first maximum: the lowest cell wins ties
    return {i: int(cell) for (i, _), cell in zip(rows, np.argmax(cos, axis=1))}


def test_ivf_assign_matches_bruteforce_argmax(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = ivf_centroids(emb, n_list=8)
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    got = {r.vec_id: r.ivf_cell for r in ivf_assign(emb, cents).collect()}
    assert got == _bruteforce_cells(rows, cents)
    assert len(set(got.values())) > 1
    # exact ties (equidistant vector, duplicated centroid) -> lowest cell
    ties = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [0.0, 3.0])], "vec_id int, embedding array<double>"
    )
    cells = {
        r.vec_id: r.ivf_cell
        for r in ivf_assign(ties, [[1.0, 0.0], [0.0, 1.0], [0.0, 2.0]]).collect()
    }
    assert cells == {1: 0, 2: 1}


def test_ivf_ann_matches_exact_probe_ranking(spark, sf_dir):
    from datafusion_python_spark.operators.similarity import ivf_ann

    emb = _emb(spark, sf_dir)
    cents = ivf_centroids(emb, n_list=8)
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    cells = _bruteforce_cells(rows, cents)
    probe = sorted(range(8), key=lambda c: -_cosine(QUERY, cents[c]))[:2]
    want = _exact_topk([(i, v) for i, v in rows if cells[i] in probe], QUERY, 10)
    got = [
        (r.vec_id, r.cosine)
        for r in ivf_ann(emb, QUERY, n_list=8, n_probe=2, k=10).collect()
    ]
    assert got == want and len(got) == 10


def test_near_dup_pairs_arrow_matches_jvm(spark, sf_dir):
    base = _emb(spark, sf_dir)
    # plant exact duplicates so both paths must emit cosine-1.0 pairs
    dupes = base.limit(5).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    emb = base.union(dupes)
    jvm = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_near_dup_pairs(emb, dim=64, threshold=0.5).collect()
    )
    arrow = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_near_dup_pairs_arrow(emb, dim=64, threshold=0.5).collect()
    )
    assert arrow == jvm
    assert len(arrow) >= 5


def test_random_projection_arrow_matches_jvm(spark, sf_dir):
    # reference: the interpreted zip_with/aggregate fold the kernel
    # replaced — same sign matrix, scale and F.round
    from datafusion_python_spark.operators.projection import (
        projection_signs,
        random_projection,
    )

    emb = _emb(spark, sf_dir)
    signs = projection_signs(64, 8, seed=0)
    scale = 1.0 / math.sqrt(64)
    vec = F.col("embedding").cast("array<double>")
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(x) for x in row]), lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(scale),
            6,
        )
        for row in signs
    ]
    jvm = {r.vec_id: r.proj for r in emb.select("vec_id", F.array(*comps).alias("proj")).collect()}
    arrow = {r.vec_id: r.proj for r in random_projection(emb, out_dim=8).collect()}
    assert arrow == jvm
    assert all(len(v) == 8 for v in arrow.values())


def test_ivf_assign_arrow_keeps_columns(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn("tag", F.lit("x"))
    out = ivf_assign(emb, [[1.0] * 64, [-1.0] * 64])
    assert out.columns == ["vec_id", "embedding", "tag", "ivf_cell"]
    n_cells = out.select("ivf_cell").distinct().count()
    assert 1 <= n_cells <= 2


# ---- parity contract: rounding, degenerate vectors, id typing ----


def test_spark_round_matches_f_round_on_ties(spark):
    # np.round (half-even on the binary double) disagrees with Spark's
    # HALF_UP-on-shortest-repr on these; _spark_round must not.
    from datafusion_python_spark.operators.similarity import _spark_round

    vals = [
        0.1234565, 0.1234575, -0.1234565, -0.1234575, 2.5e-07,
        1.0000005, -1.0000005, 0.9999995, 0.5, -0.5, 0.0, 1.0,
        0.123456499999, 0.123456500001, 7.0000015, -3.0000025,
    ]
    expected = [
        r.r
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 6).alias("r"))
        .collect()
    ]
    got = list(_spark_round(vals, 6))
    assert got == expected


def test_spark_round_property_random(spark):
    # 5k-value stress: uniform doubles plus two adversarial families —
    # values whose shortest repr terminates at the 7th decimal (the
    # HALF_UP-sensitive class) and values perturbed to sit within float
    # error of a .5 tie. Every element must equal Spark's F.round.
    import numpy as np

    from datafusion_python_spark.operators.similarity import _spark_round

    rng = np.random.default_rng(7)
    vals = [float(x) for x in rng.uniform(-2.0, 2.0, 2000)]
    vals += [round(float(x), 7) for x in rng.uniform(-1.0, 1.0, 2000)]
    vals += [float(x) + 5e-7 for x in np.round(rng.uniform(-1.0, 1.0, 1000), 6)]
    expected = [
        r.r
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select(F.round("x", 6).alias("r"))
        .collect()
    ]
    got = _spark_round(vals, 6)
    mismatches = [
        (v, g, e) for v, g, e in zip(vals, got, expected) if float(g) != e
    ]
    assert not mismatches, mismatches[:5]


def test_spark_round_passes_nan_inf():
    import math

    from datafusion_python_spark.operators.similarity import _spark_round

    out = _spark_round([float("nan"), float("inf"), float("-inf"), 0.1234565], 6)
    assert math.isnan(out[0]) and out[1] == float("inf") and out[2] == float("-inf")
    assert out[3] == 0.123457


def test_topk_arrow_string_ids(spark):
    # np.lexsort chokes on object arrays; the pyarrow tie-break must not.
    rows = [(f"doc{i:02d}", [1.0, float(i % 3)]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = [(r.vec_id, r.cosine) for r in cosine_topk(df, [1.0, 1.0], k=4).collect()]
    assert got == _exact_topk(rows, [1.0, 1.0], 4) and len(got) == 4


def test_degenerate_vectors_raise_in_both_paths(spark):
    # ANSI Spark raises DIVIDE_BY_ZERO on a JVM cosine's zero divisor
    # (the near-dup join path); the Arrow kernels raise ValueError
    # instead of inventing a value.
    import pytest

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cosine_near_dup_pairs(df, dim=2, threshold=0.5, exact=True).collect()
    with pytest.raises(Exception, match="zero-norm"):
        cosine_topk(df, [1.0, 0.0], k=2).collect()
    with pytest.raises(ValueError, match="zero norm"):
        cosine_topk(df, [0.0, 0.0], k=2)
    with pytest.raises(ValueError, match="zero-norm centroid"):
        ivf_assign(df, [[0.0, 0.0]])
    with pytest.raises(Exception, match="zero-norm"):
        ivf_assign(df.filter("vec_id = 1"), [[1.0, 0.0]]).collect()


def test_null_embedding_raises_not_misaligns(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.5, 0.5])],
        "vec_id int, embedding array<double>",
    )
    from datafusion_python_spark.operators.projection import random_projection

    for out in (
        cosine_topk(df, [1.0, 0.0], k=3),
        ivf_assign(df, [[1.0, 0.0]]),
        random_projection(df, out_dim=2),
    ):
        with pytest.raises(Exception, match="null values in embedding"):
            out.collect()


def test_nan_vector_parity_topk_and_pairs(spark):
    # Spark's total order puts NaN above every double: NaN >= threshold
    # holds and NaN wins desc sorts — the kernels must agree.
    nan = float("nan")
    rows = [(1, [1.0, 0.0]), (2, [nan, 1.0]), (3, [0.6, 0.8]), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    top = [(r.vec_id, r.cosine) for r in cosine_topk(df, [1.0, 0.0], k=3).collect()]
    assert [i for i, _ in top] == [2, 1, 3]
    assert math.isnan(top[0][1])

    jvm_p = sorted(
        (r.id_a, r.id_b) for r in cosine_near_dup_pairs(df, dim=2, threshold=0.9).collect()
    )
    arrow_p = sorted(
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs_arrow(df, dim=2, threshold=0.9).collect()
    )
    assert arrow_p == jvm_p
    # every pair involving the NaN vector that shares its bucket is kept
    assert all((2 in p) or p == (1, 3) for p in arrow_p)


def test_topk_arrow_null_ids_match_jvm(spark):
    # Null ids don't feed any divide — they ride the tie-break, where
    # Spark's asc sort puts NULL first; the kernel's local selection
    # must agree with a JVM sort over the same cosines.
    rows = [(None, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.6, 0.8]), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    scored = spark.createDataFrame(
        [(i, _round6(_cosine(v, [1.0, 0.0]))) for i, v in rows],
        "vec_id int, cosine double",
    )
    jvm = [
        (r.vec_id, r.cosine)
        for r in scored.orderBy(F.desc("cosine"), "vec_id").limit(3).collect()
    ]
    arrow = [(r.vec_id, r.cosine) for r in cosine_topk(df, [1.0, 0.0], k=3).collect()]
    assert arrow == jvm
    assert jvm[0][0] is None  # ties at cosine 1.0 → null id first


def test_batch_matrix_rejects_compensating_ragged_rows():
    # rows of 3 and 5 slots sum to 8 = 2 rows × dim 4: the old aggregate
    # modulo check reshaped this silently; per-row lengths must not.
    import pyarrow as pa
    import pytest

    from datafusion_python_spark.operators.similarity import _batch_matrix

    rb = pa.record_batch(
        {"id": pa.array([1, 2]), "e": pa.array([[1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0, 5.0]])}
    )
    with pytest.raises(ValueError, match="ragged"):
        _batch_matrix(rb, "e")


def test_spark_round_large_magnitudes(spark):
    # the near-tie band scales with ulp(scaled): magnitudes where
    # |a * 1e6| carries > 1e-6 of float error must still match F.round.
    import numpy as np

    from datafusion_python_spark.operators.similarity import _spark_round

    vals = [12345.6789995, 98765.4321235, 5.0e8 + 0.1234565, 1.0e12 + 0.5, 4.503599627370497e15]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    jvm = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    ours = list(_spark_round(np.array(vals), 6))
    assert ours == jvm


def test_streaming_gate_restores_session_timezone(spark):
    # _with_utc must not leak the UTC pin into the shared session.
    from datafusion_python_spark.suite_streaming import stream_dedup_distinct

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        out = stream_dedup_distinct(spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        assert out.count() > 0  # post-restore execution still correct
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_semantic_dedup_arrow_matches_jvm(spark, sf_dir):
    from datafusion_python_spark.operators.semdedup import (
        semantic_dedup,
        semantic_dup_ids,
        semantic_dup_ids_arrow,
    )
    from datafusion_python_spark.operators.similarity import ivf_assign, ivf_centroids

    emb = _emb(spark, sf_dir)
    for thr in (0.4, 0.95):
        jvm = sorted(
            (r.vec_id, r.ivf_cell)
            for r in semantic_dedup(emb, n_clusters=8, threshold=thr).collect()
        )
        fused = sorted(
            (r.vec_id, r.ivf_cell)
            for r in semantic_dedup(emb, n_clusters=8, threshold=thr, arrow=True).collect()
        )
        assert fused == jvm
    # standalone pair-stage twin, including a tile smaller than a cluster
    cents = ivf_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    jvm_ids = sorted(r.vec_id for r in semantic_dup_ids(assigned, 0.4).collect())
    arrow_ids = sorted(
        r.vec_id for r in semantic_dup_ids_arrow(assigned, 0.4, block=7).collect()
    )
    assert arrow_ids == jvm_ids and len(jvm_ids) > 0


def test_semantic_dedup_megacluster_cap(spark):
    # One cell deliberately holds ~50% of the corpus. The max_cell
    # block-pair scheduler must (a) keep the output IDENTICAL to the
    # uncapped kernel and the JVM path, and (b) bound every task's
    # group to <= 2*max_cell rows (instead of one task holding the
    # whole megacluster's matrix).
    import numpy as np

    from pyspark.sql import functions as F

    from datafusion_python_spark.operators.semdedup import semantic_dedup

    rng = np.random.default_rng(7)
    rows = []
    # megacluster around +x: 400 vectors, many near-dups
    for i in range(400):
        v = np.array([10.0, 0.0, 0.0]) + rng.normal(0, 0.3, 3)
        rows.append((i, [float(x) for x in v], "mega"))
    # the rest spread over two other cells
    for i in range(400, 600):
        v = np.array([0.0, 10.0, 0.0]) + rng.normal(0, 0.5, 3)
        rows.append((i, [float(x) for x in v], "b"))
    for i in range(600, 800):
        v = np.array([0.0, 0.0, 10.0]) + rng.normal(0, 0.5, 3)
        rows.append((i, [float(x) for x in v], "c"))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>, label string")
    cents = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    kw = dict(n_clusters=3, threshold=0.999, centroids=cents, arrow=True)
    uncapped = sorted(
        (r.vec_id, r.ivf_cell) for r in semantic_dedup(df, max_cell=None, **kw).collect()
    )
    capped = sorted(
        (r.vec_id, r.ivf_cell)
        for r in semantic_dedup(df, max_cell=100, **kw).collect()
    )
    jvm = sorted(
        (r.vec_id, r.ivf_cell)
        for r in semantic_dedup(
            df, n_clusters=3, threshold=0.999, centroids=cents, arrow=False
        ).collect()
    )
    assert capped == uncapped == jvm
    assert 0 < len(capped) < 800  # some dups dropped, some survivors
    # bounded per-task groups: replay the chunk-pair construction and
    # check no (cell, lo, hi) group exceeds 2*max_cell rows
    assigned = ivf_assign(df, cents)
    sizes = assigned.groupBy("ivf_cell").agg(F.count("*").alias("_cell_n"))
    tagged = assigned.join(F.broadcast(sizes), "ivf_cell").filter("_cell_n > 100")
    n_chunks = F.ceil(F.col("_cell_n") / F.lit(100)).cast("int")
    grp = (
        tagged.withColumn("_chunk", F.pmod(F.xxhash64("vec_id"), n_chunks).cast("int"))
        .withColumn("_other", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .groupBy("ivf_cell", F.least("_chunk", "_other"), F.greatest("_chunk", "_other"))
        .count()
    )
    # hash chunks are balanced in expectation (binomial spread
    # O(sqrt(max_cell)) around max_cell), so allow modest slack over
    # the nominal 2*max_cell
    assert grp.agg(F.max("count")).first()[0] <= 270


def test_murmur3_int32_matches_spark_hash(spark):
    # the driver-side placement math (semdedup chunk-pair scheduling)
    # relies on predicting Spark's HashPartitioning: F.hash(int) ==
    # murmur3_int32, and partition == floorMod(hash, n)
    from pyspark.sql import functions as F

    from datafusion_python_spark.operators._util import (
        murmur3_int32,
        partition_salts,
    )

    vals = list(range(0, 50)) + [2**31 - 1, -1, -(2**31), 12345678]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r.v: r.h for r in df.select("v", F.hash("v").alias("h")).collect()}
    assert got == {v: murmur3_int32(v) for v in vals}
    # the salts land their groups in the intended physical partition
    salts = partition_salts(8)
    placed = (
        spark.createDataFrame([(s,) for s in salts], "s int")
        .repartition(8, "s")
        .select("s", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert sorted((r.s, r.p) for r in placed) == sorted(
        (s, p) for p, s in enumerate(salts)
    )


def test_lpt_bins_spread():
    from datafusion_python_spark.operators._util import lpt_bins

    # 10 equal heavy groups into 32 bins -> all distinct bins (the exact
    # collision the round-9 semdedup_skew straggler came from)
    bins = lpt_bins([100.0] * 10, 32)
    assert len(set(bins)) == 10
    # more groups than bins: makespan stays near-optimal for equal items
    bins = lpt_bins([1.0] * 64, 32)
    assert max(bins.count(b) for b in set(bins)) == 2


def test_semdedup_placement_one_group_per_task(spark):
    # replay the capped path's exchange on a 4-chunk megacluster and
    # assert the 10 chunk-pair groups occupy 10 DISTINCT tasks
    import numpy as np
    from pyspark.sql import functions as F

    from datafusion_python_spark.operators._util import (
        lpt_bins,
        partition_salts,
        shuffle_partitions,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in np.array([10.0, 0.0]) + rng.normal(0, 0.3, 2)])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    n_part = shuffle_partitions(spark)
    groups = [(0, lo, hi) for lo in range(4) for hi in range(lo, 4)]
    weights = [100.0 * (1.0 if lo == hi else 2.0) for _, lo, hi in groups]
    salts = partition_salts(n_part)
    bins = lpt_bins(weights, n_part)
    place = spark.createDataFrame(
        [(c, lo, hi, salts[b]) for (c, lo, hi), b in zip(groups, bins)],
        "ivf_cell int, _lo int, _hi int, _salt int",
    )
    n_chunks = F.lit(4)
    paired = (
        df.withColumn("ivf_cell", F.lit(0))
        .withColumn("_chunk", F.pmod(F.xxhash64("vec_id"), n_chunks).cast("int"))
        .withColumn("_other", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("_lo", F.least("_chunk", "_other"))
        .withColumn("_hi", F.greatest("_chunk", "_other"))
    )
    got = (
        paired.join(F.broadcast(place), ["ivf_cell", "_lo", "_hi"])
        .repartition(n_part, "_salt")
        .select("_lo", "_hi", F.spark_partition_id().alias("p"))
        .distinct()
        .collect()
    )
    assert len(got) == 10  # no group straddles two partitions
    by_group = {(r._lo, r._hi): r.p for r in got}
    assert len(by_group) == 10  # every group in exactly one partition
    assert len(set(by_group.values())) == 10  # and no two share a task


def test_semdedup_salted_applyinpandas_single_exchange(spark):
    # ADVICE r10 #3: the straggler fix depends on Spark inserting NO
    # second exchange for groupBy(_salt, full keys) after
    # repartition(n_part, "_salt") — HashPartitioning on a SUBSET of
    # the grouping keys satisfies the ClusteredDistribution
    # applyInPandas requires. The placement test above pins the bare
    # repartition; this one pins the EXECUTED applyInPandas pipeline
    # (ADVICE r11 #3: the plan is captured AFTER collect() via the
    # same executed-plan walk tools/shuffle_audit.py uses, not the
    # pre-execution explain): (a) the executed plan holds exactly ONE
    # ShuffleExchangeExec, and (b) inside the kernel each chunk-pair
    # group sees a DISTINCT TaskContext partition — a future planner
    # change re-adding an exchange on the full keys (re-hashing groups
    # into birthday collisions) fails both.
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from datafusion_python_spark.operators._util import (
        lpt_bins,
        partition_salts,
        shuffle_partitions,
    )
    from datafusion_python_spark.plans import explain_str

    n_part = shuffle_partitions(spark)
    n_chunks = F.lit(4)
    paired = (
        spark.range(400)
        .select(F.col("id").cast("int").alias("vec_id"))
        .withColumn("ivf_cell", F.lit(0))
        .withColumn("_chunk", F.pmod(F.xxhash64("vec_id"), n_chunks).cast("int"))
        .withColumn("_other", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("_lo", F.least("_chunk", "_other"))
        .withColumn("_hi", F.greatest("_chunk", "_other"))
    )
    groups = [(0, lo, hi) for lo in range(4) for hi in range(lo, 4)]
    salts = partition_salts(n_part)
    bins = lpt_bins([1.0 if lo == hi else 2.0 for _, lo, hi in groups], n_part)
    place = spark.createDataFrame(
        [(c, lo, hi, salts[b]) for (c, lo, hi), b in zip(groups, bins)],
        "ivf_cell int, _lo int, _hi int, _salt int",
    )

    def report(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "_lo": [int(pdf["_lo"].iat[0])],
                "_hi": [int(pdf["_hi"].iat[0])],
                "task": [TaskContext.get().partitionId()],
            }
        )

    out = (
        paired.join(F.broadcast(place), ["ivf_cell", "_lo", "_hi"])
        .repartition(n_part, "_salt")
        .groupBy("_salt", "ivf_cell", "_lo", "_hi")
        .applyInPandas(report, "_lo int, _hi int, task int")
    )
    rows = out.collect()
    assert len(rows) == 10
    tasks = {(r._lo, r._hi): r.task for r in rows}
    assert len(tasks) == 10
    assert len(set(tasks.values())) == 10  # one kernel per task, executed
    from conftest import count_executed_shuffles

    # only the salt repartition — counted on the EXECUTED plan
    assert count_executed_shuffles(out) == 1, explain_str(out)


def test_semantic_dedup_arrow_degenerate_raises(spark):
    import pytest

    from datafusion_python_spark.operators.semdedup import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.0, 0.0], "b"), (3, [1.0, 0.0], "c")],
        "vec_id int, embedding array<double>, label string",
    )
    with pytest.raises(Exception, match="zero-norm"):
        semantic_dedup(
            df, n_clusters=1, threshold=0.9, centroids=[[1.0, 0.0]], arrow=True
        ).collect()


@pytest.mark.parametrize("max_cell", [None, 1])
def test_semantic_dedup_arrow_degenerate_rows_rejected(spark, max_cell):
    # null and zero-norm embeddings are rejected by the assignment
    # kernel, before any cell kernel runs; a null id reaches the cell
    # kernel (fused and chunk-pair paths) and is rejected there
    from datafusion_python_spark.operators.semdedup import semantic_dedup

    cases = [
        ((2, [0.0, 0.0]), "ivf_assign: zero-norm embedding"),
        ((2, None), "null values in embedding column"),
        ((None, [0.5, 0.5]), r"semantic_dedup\(arrow=True\): null id"),
    ]
    for (vid, vec), message in cases:
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (vid, vec), (3, [1.0, 0.0])],
            "vec_id int, embedding array<double>",
        )
        with pytest.raises(Exception, match=message):
            semantic_dedup(
                df, n_clusters=1, threshold=0.9, centroids=[[1.0, 0.0]], arrow=True,
                max_cell=max_cell,
            ).collect()


def _sf0_01_docs(spark, sf_dir):
    # the sf0.01 corpus sits next to the session fixture's data
    return load_table(
        spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"), "documents"
    ).select("doc_id", "text")


EDGE_DOCS = [(1, "hello world foo bar"), (2, "x"), (3, ""), (4, None)]


def _reference_simhash(df, hasher):
    # the interpreted 64-fold aggregate() vote the kernel replaced, over
    # the same staged word hashes
    from datafusion_python_spark.operators.dedup import _simhash_word_hashes

    bits = 64 if hasher == "xxhash64" else 60
    sums = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda b: F.aggregate(
            F.col("_sh_hashes"),
            F.lit(0),
            lambda acc, h: acc + F.when(F.getbit(h, b) == 1, 1).otherwise(-1),
        ),
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        bitval = (1 << i) if i < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.col("_sh_sums")[i] > 0, F.lit(bitval).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    staged = _simhash_word_hashes(df, "text", hasher).withColumn("_sh_sums", sums)
    return {r.doc_id: r.simhash for r in staged.select("doc_id", sig.alias("simhash")).collect()}


def test_simhash_arrow_matches_jvm(spark, sf_dir):
    # signatures must equal the interpreted Spark vote fold, on the
    # sf0.01 corpus and on degenerate texts
    from datafusion_python_spark.operators.dedup import simhash

    docs = _sf0_01_docs(spark, sf_dir)
    edf = spark.createDataFrame(EDGE_DOCS, "doc_id int, text string")
    for hasher in ("xxhash64", "md5"):
        for df in (docs, edf):
            got = {r.doc_id: r.simhash for r in simhash(df, "text", hasher=hasher).select("doc_id", "simhash").collect()}
            assert got == _reference_simhash(df, hasher) and len(got) > 0
    # empty and null text produce signature 0
    got = {r.doc_id: r.simhash for r in simhash(edf, "text").collect()}
    assert got[3] == 0 and got[4] == 0


def _reference_minhash(df, shingle_k):
    # the interpreted family-min fold the kernel replaced:
    # family i = array_min over shingle hashes h of xxhash64(h, i)
    from datafusion_python_spark.operators.dedup import (
        _norm_text,
        _shingle_hashes_from_words,
    )

    words = F.filter(F.split(_norm_text(F.col("text")), " "), lambda x: x != "")
    staged = df.withColumn("__w", words).withColumn(
        "__shh", _shingle_hashes_from_words(F.col("__w"), shingle_k)
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: F.array_min(F.transform(F.col("__shh"), lambda h: F.xxhash64(h, i))),
    )
    return {r.doc_id: list(r.minhash) for r in staged.select("doc_id", sig.alias("minhash")).collect()}


def test_minhash_arrow_matches_jvm(spark, sf_dir):
    # numpy xxh64 twins must be bit-exact vs Spark, including the
    # IntegerType (4-byte) path that xxhash64(h, i) chains through.
    from datafusion_python_spark.operators.dedup import (
        _xxh64_int,
        _xxh64_long,
        minhash_signature,
    )

    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63), 123456789123456789]
    df = spark.createDataFrame([(v, i) for v in vals for i in range(3)], "h long, i int")
    jvm = [r[0] for r in df.select(F.xxhash64("h", "i")).collect()]
    hh = np.array([v for v in vals for _ in range(3)], dtype=np.int64).view(np.uint64)
    ii = np.array([i for _ in vals for i in range(3)], dtype=np.uint32)
    ours = _xxh64_int(ii, _xxh64_long(hh, np.uint64(42))).view(np.int64)
    assert list(ours) == jvm

    # signatures equal the interpreted fold on the sf0.01 corpus and on
    # degenerate texts (short, empty, null), at k=1 and k=3
    docs = _sf0_01_docs(spark, sf_dir)
    edf = spark.createDataFrame(EDGE_DOCS, "doc_id int, text string")
    for k in (1, 3):
        for df in (docs, edf):
            got = {
                r.doc_id: list(r.minhash)
                for r in minhash_signature(df, "text", shingle_k=k).select("doc_id", "minhash").collect()
            }
            assert got == _reference_minhash(df, k) and len(got) > 0
    # k=1 degenerates: empty/null text stages an EMPTY (resp. NULL)
    # hash array, whose min is NULL per family
    got = {r.doc_id: list(r.minhash) for r in minhash_signature(edf, "text", shingle_k=1).collect()}
    assert got[3] == [None] * 32 and got[4] == [None] * 32


def test_xxh64_twins_random_sweep(spark):
    # 20k seeded-random (long, int) pairs through both engines in one
    # shot — hardens the bit-parity claim beyond hand-picked edges.
    import warnings

    import pandas as pd

    from datafusion_python_spark.operators.dedup import _xxh64_int, _xxh64_long

    rng = np.random.default_rng(0xD5)
    hs = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    iis = rng.integers(-(2**31), 2**31 - 1, size=20_000, dtype=np.int32)

    df = spark.createDataFrame(pd.DataFrame({"h": hs, "i": iis}))
    jvm = np.array(
        [r[0] for r in df.select(F.xxhash64("h", "i")).collect()], dtype=np.int64
    )
    ours = _xxh64_int(
        iis.view(np.uint32), _xxh64_long(hs.view(np.uint64), np.uint64(42))
    ).view(np.int64)
    assert (ours == jvm).all()
    # the minhash kernel passes a SCALAR family index: same bits, and the
    # intended uint64 wraparound must not surface as an overflow warning
    jvm5 = np.array(
        [r[0] for r in df.select(F.xxhash64("h", F.lit(5))).collect()], dtype=np.int64
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        inner = _xxh64_long(hs.view(np.uint64), np.uint64(42))
        ours5 = _xxh64_int(np.uint32(5), inner).view(np.int64)
    assert (ours5 == jvm5).all()


def test_jaccard_prefix_filter_matches_plain(spark, sf_dir):
    # AllPairs prefix filtering must be output-identical to the naive
    # inverted-index join — the filters may only widen candidates, and
    # the verify stage reuses the exact formula and rounding.
    from datafusion_python_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from datafusion_python_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for t in (0.3, 0.6, 0.95):
        plain = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", t).collect()
        )
        pref = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs_prefix(docs, "doc_id", "text", t).collect()
        )
        assert pref == plain


def test_jaccard_prefix_rounding_band_pair_kept(spark):
    # A pair whose TRUE Jaccard sits just under t but ROUNDS to t
    # (inter/union = 1899/1999 = 0.949975 -> round4 = 0.95 at t=0.95)
    # is emitted by the plain variant; the prefix/length filters must
    # prune at the relaxed t_eff so they don't drop it.
    from datafusion_python_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    shared = [f"s{i:05d}" for i in range(1899)]
    a = " ".join(shared + [f"a{i:04d}" for i in range(50)])
    b = " ".join([f"b{i:04d}" for i in range(50)] + shared)
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    plain = ngram_jaccard_pairs(docs, "doc_id", "text", 0.95).collect()
    pref = ngram_jaccard_pairs_prefix(docs, "doc_id", "text", 0.95).collect()
    assert len(plain) == 1 and plain[0].jaccard == 0.95
    assert [tuple(r) for r in pref] == [tuple(r) for r in plain]


def test_near_dup_pairs_lsh_exact_on_candidates(spark, sf_dir):
    # The end-to-end LSH→verify operator: precision must be EXACT —
    # output == { LSH candidate pairs } ∩ { exact Jaccard pairs }, with
    # bit-equal jaccard values (the verify reuses the exact formula).
    from datafusion_python_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        near_dup_pairs_lsh,
        ngram_jaccard_pairs,
    )
    from datafusion_python_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = 0.8
    got = sorted(
        tuple(r)
        for r in near_dup_pairs_lsh(
            docs, "doc_id", "text", threshold=t, shingle_k=1, hasher="md5"
        ).collect()
    )
    sig = minhash_signature(docs, "text", num_hashes=32, shingle_k=1, hasher="md5")
    cands = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sig, "doc_id", num_bands=8).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", t).collect()
    }
    want = sorted((a, b, j) for (a, b), j in exact.items() if (a, b) in cands)
    assert got == want
    assert len(got) > 0  # the corpus has near-dups; the gate isn't vacuous


def test_near_dup_pairs_lsh_shingle_k3(spark):
    # k>1 verify path: Jaccard is over distinct word 3-shingles (the set
    # the signature sketches), not words. Two docs sharing a long run
    # of words but differing at the edges: shingle-Jaccard is computable
    # by hand and the emitted value must match it exactly.
    from datafusion_python_spark.operators.dedup import near_dup_pairs_lsh

    base = [f"w{i:03d}" for i in range(50)]
    a = " ".join(base + ["enda"])
    b = " ".join(["startb"] + base)
    # shingles(k=3): A has 49 (48 base-only + 1 with enda); B has 49;
    # shared = the 48 shingles fully inside base; union = 48 + 1 + 2...
    # compute expected from first principles below instead of hand-math
    def shingles(text):
        ws = text.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
    sa, sb = shingles(a), shingles(b)
    want = len(sa & sb) / len(sa | sb)
    docs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    got = near_dup_pairs_lsh(
        docs, "doc_id", "text", threshold=0.5, shingle_k=3
    ).collect()
    assert len(got) == 1
    assert abs(got[0].jaccard - round(want, 4)) < 1e-9


def test_near_dup_pairs_lsh_empty_docs_no_pair(spark):
    # empty/whitespace docs must NOT pair with each other at any k:
    # _shingle_set yields an EMPTY set for them (k>1 used to give [""],
    # which made two empty docs emit jaccard 1.0), so union = 0 and the
    # verify step drops the candidate
    from datafusion_python_spark.operators.dedup import near_dup_pairs_lsh

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here"), (4, "real words here")],
        ["doc_id", "text"],
    )
    for k in (1, 2, 3):
        got = near_dup_pairs_lsh(
            docs, "doc_id", "text", threshold=0.8, shingle_k=k
        ).collect()
        assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(3, 4, 1.0)], k


def test_near_dup_pairs_lsh_replica_recall(spark):
    # Replica-saturated corpus (the regime where exact all-pairs Jaccard
    # is quadratic): every replica pair has J = m/(m+4) ≈ 0.96 and must
    # be found via bucket collisions — full recall here since replica
    # signatures collide with probability ≈ 1 at 8 bands × 4 rows.
    from datafusion_python_spark.operators.dedup import near_dup_pairs_lsh

    base = [
        (d, " ".join(f"w{d}_{i}" for i in range(100)))
        for d in range(20)
    ]
    rows = [
        (d * 100 + r, f"{text} rep{r} t{r * 7 + 1}")
        for d, text in base
        for r in range(8)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = near_dup_pairs_lsh(docs, "doc_id", "text", threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    want = {
        (d * 100 + i, d * 100 + j)
        for d in range(20)
        for i in range(8)
        for j in range(i + 1, 8)
    }
    assert got == want  # all true replica pairs, nothing across docs
    # |A|=|B|=102, inter=100 (base words), union=104
    assert all(abs(r.jaccard - 100 / 104) < 1e-3 for r in pairs)
