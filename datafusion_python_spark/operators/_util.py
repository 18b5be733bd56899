"""Shared helpers for the pipeline operators."""

from __future__ import annotations


def shuffle_partitions(spark, default: int = 200) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int.

    Used to PIN explicit exchange partition counts at applyInPandas /
    candidate-re-spread sites: grouped rows there are tiny (or few), so
    AQE's size-based coalescing would funnel them into a couple of tasks
    and serialize the per-group kernels — an explicit count is exempt
    from coalescing. Falls back to ``default`` when the conf is
    non-numeric (e.g. "auto" under vendor AQE); any fixed fan-out works,
    the point is only to defeat the coalescing.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return default


def spread_small_input(df):
    """Round-robin repartition a small-scan input up to the session's
    default parallelism so expensive per-row compute downstream (e.g.
    the 32-family MinHash fold) doesn't ride a handful of file splits.

    Scale-adaptive by construction: a production-sized input already
    has >= cores file splits (128 MB each), so this is a NO-OP there —
    it only fires when the scan yields fewer partitions than the
    session has cores (small files / single row-group parquet), where
    the text shuffle it adds is by definition tiny. Without it, every
    projection between the scan and the first exchange — including the
    whole signature pipeline — runs serially on the scan's 1-2 tasks
    (measured: the sf0.1 banded-table build is a single-task stage).
    """
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df
    return df.repartition(target)


def murmur3_int32(value: int, seed: int = 42) -> int:
    """Spark's ``F.hash`` of a 32-bit int: Murmur3_x86_32.hashInt with
    seed 42, returned as a SIGNED 32-bit int (public algorithm, Appleby's
    MurmurHash3; same constants as Spark's Murmur3Hash expression).

    Lets the driver predict which shuffle partition a key lands in
    (``floorMod(hash, n)`` — Spark's HashPartitioning), which is what
    makes exact few-group task placement possible (see
    :func:`partition_salts` / :func:`lpt_bins`). Conformance with the
    JVM is pytest-asserted against ``F.hash``
    (test_similarity_arrow.test_murmur3_int32_matches_spark_hash).
    """
    m = 0xFFFFFFFF
    k = (value & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = k * 0x1B873593 & m
    h = (seed & m) ^ k
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & m
    h ^= h >> 13
    h = h * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def partition_salts(n_part: int) -> list[int]:
    """``salts[p]`` = smallest non-negative int whose Spark hash lands
    in shuffle partition ``p`` of ``n_part`` (floorMod(murmur3, n)).
    O(n·ln n) expected probes, driver-side ints only."""
    salts: list[int | None] = [None] * n_part
    found, s = 0, 0
    while found < n_part:
        p = murmur3_int32(s) % n_part
        if salts[p] is None:
            salts[p] = s
            found += 1
        s += 1
    return salts  # type: ignore[return-value]


def lpt_bins(weights: list[float], n_bins: int) -> list[int]:
    """Longest-processing-time-first bin assignment: returns the bin
    index per item, greedily placing heavier items on the least-loaded
    bin. Used to spread a FEW heavy kernel groups (known driver-side)
    across shuffle partitions so no two serialize in one task — plain
    hash placement of g groups into n partitions collides with
    probability ≈ 1 − exp(−g²/2n) (the birthday bound that caused the
    round-9 semdedup_skew 2.3× straggler tail)."""
    import heapq

    order = sorted(range(len(weights)), key=lambda i: -weights[i])
    heap = [(0.0, b) for b in range(n_bins)]
    heapq.heapify(heap)
    out = [0] * len(weights)
    for i in order:
        load, b = heapq.heappop(heap)
        out[i] = b
        heapq.heappush(heap, (load + weights[i], b))
    return out
