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


# Leaves whose input RDD (and so its split count) exists once the plan is
# built: a file scan, a local relation, an existing (e.g. checkpointed) RDD.
_RDD_LEAVES = {"FileSourceScanExec", "LocalTableScanExec", "RDDScanExec"}


def _streamed_partitions(plan) -> int | None:
    """Partition count of ``plan``'s streamed path, read from the
    un-executed physical plan, or None when only running it would tell.

    Walks down from the root, skipping ``BroadcastExchangeExec`` build
    sides, through every single-child operator that keeps its child's
    partition count, to the node that sets the count:

    - a leaf in ``_RDD_LEAVES`` gives its input RDD's split count, a
      range its slice count;
    - a ``repartition(n)`` exchange (origin ``REPARTITION_BY_NUM``) gives
      n — AQE never coalesces an explicit count;
    - any other exchange (AQE picks its count at run time) and any other
      operator give None.
    """
    node = plan
    while True:
        cls = node.getClass().getSimpleName()
        if cls in _RDD_LEAVES:
            return len(node.inputRDD().partitions())
        if cls == "RangeExec":
            return node.numSlices()
        if cls == "ShuffleExchangeExec":
            if node.shuffleOrigin().toString() == "REPARTITION_BY_NUM":
                return node.outputPartitioning().numPartitions()
            return None
        children = node.children()
        streamed = [
            child
            for child in (children.apply(i) for i in range(children.size()))
            if child.getClass().getSimpleName() != "BroadcastExchangeExec"
        ]
        if len(streamed) != 1 or (
            streamed[0].outputPartitioning().numPartitions()
            != node.outputPartitioning().numPartitions()
        ):
            return None
        node = streamed[0]


def spread_small_input(df):
    """Round-robin repartition a small input up to the session's default
    parallelism so expensive per-row compute downstream (e.g. the
    32-family MinHash fold) doesn't ride a handful of file splits.

    Decided at planning time; it never runs a job. Asking the executed
    frame (``df.rdd.getNumPartitions()``) makes AQE run every broadcast
    and shuffle stage upstream, and the caller's query later runs them
    all again. Instead the rule reads the initial physical plan
    (``AdaptiveSparkPlanExec.initialPlan``, the plan itself without
    AQE) along the streamed path (:func:`_streamed_partitions`):

    - a scan leaf or ``repartition(n)`` exchange with a known count
      spreads when that count is below the target — so a corpus scan
      with >= cores splits (128 MB each at production scale) passes
      through unchanged, even behind broadcast joins;
    - when the count is decided only at run time (a join or aggregate
      exchange, which AQE coalesces by size, or any operator that
      changes the count), the input spreads when the optimized plan's
      ``sizeInBytes`` is below ``target`` advisory partitions
      (``spark.sql.adaptive.advisoryPartitionSizeInBytes``), so the
      rule stays a no-op on a large shuffled input.

    A plan's reported ``outputPartitioning`` is no substitute: a file
    scan reports ``UnknownPartitioning(0)`` before it runs, so "unknown"
    does not mean "small", and spreading on it would add a round-robin
    exchange after a scan that is already wide.

    Without the spread, every projection between a few-split scan and
    the first exchange — including the whole signature pipeline — runs
    serially on the scan's 1-2 tasks (measured: the sf0.1 banded-table
    build is a single-task stage).
    """
    if df.isStreaming:
        # no batch plan to read: each micro-batch keeps the source's layout
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    n = _streamed_partitions(plan)
    if n is None:
        advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        small = qe.optimizedPlan().stats().sizeInBytes() < target * advisory
    else:
        small = n < target
    return df.repartition(target) if small else df


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
