"""Duplicate-cluster resolution: connected components over near-dup
pairs, and canonical-document selection per component.

Near-dup detectors (MinHash/LSH, SimHash, embedding buckets — see
``dedup.py`` / ``similarity.py``) emit PAIRS; a real dedup pipeline
must then group transitively-connected docs into one cluster and keep
one canonical doc per cluster. This is iterative min-label propagation
(the dataflow form of union-find), expressed as pure DataFrame joins:

- state is a (node, component) DataFrame, never driver-side;
- each round is one shuffle-join edges⋈labels + one min-aggregate,
  both AQE-planned with map-side partial aggregation;
- lineage is truncated every round with ``localCheckpoint`` so the
  plan stays O(1) deep across iterations (required at 100 TB — an
  un-checkpointed loop re-executes every prior round);
- rounds needed = graph diameter. Near-dup graphs are unions of
  near-cliques, so 3–5 rounds converge; convergence is detected by
  counting label changes (one cheap action per round).

Canonical selection (:func:`canonical_docs`) is then one anti-join of
the docs against the labelled nodes that are not their component's
minimum — a drop set as large as the duplicates, not the corpus.

Cache contract: :func:`canonical_docs` persists ``docs`` (memory and
disk, the ``persist()`` default) before the pairs are planned, and the
docs stay cached after it returns. When ``pairs`` is derived from
``docs`` (the curation chain: docs → minhash → LSH edges), the
signature kernel and the final anti-join both read that one cached
copy instead of computing ``docs`` twice; at 100 TB one write and read
of the docs replaces recomputing their corpus-wide shuffles. The
caller releases it with ``docs.unpersist()`` or
``spark.catalog.clearCache()``.

Reference parity: apache/datafusion-python has no graph operator; this
extends the suite for LLM-training-data pipelines (transitive MinHash
dedup a la C4/RefinedWeb).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetric_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct directed edges (s, d) in both directions of every pair,
    from ONE read of ``pairs``: a union of the two projections would
    plan (and run) the pair computation twice."""
    a, b = F.col(src), F.col(dst)
    both = F.array(F.struct(a.alias("s"), b.alias("d")), F.struct(b.alias("s"), a.alias("d")))
    return pairs.select(F.explode(both).alias("e")).select("e.s", "e.d").distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve ``pairs`` (an undirected edge list) into components.

    Returns (node, component) where component = min node id reachable.
    Min-label propagation: label(n) <- min(label(n), label(m) for each
    neighbor m), iterated to fixpoint.  Each iteration shuffles on node
    id; the label table is the only state and shrinks-in-place, never
    collected to the driver.
    """
    from ._util import shuffle_partitions

    # Edges are STATIC across iterations and are the big side of every
    # round's join, so partition them by the probe key ONCE and pin the
    # layout in the cache: InMemoryRelation preserves outputPartitioning,
    # so each iteration's edges⋈labels join re-uses this exchange instead
    # of re-shuffling the full edge set every round (guide §2.4 — a
    # localCheckpoint would NOT work here: its LogicalRDD reports
    # UnknownPartitioning, measured in plans/r11/pipe_dedup_cluster_
    # before.txt, which is exactly why the old per-round plans paid an
    # edges exchange per iteration at scale). Cache-not-checkpoint is
    # safe for edges: eviction recomputes a pure explode+distinct, there is
    # no iterated lineage to truncate. The per-round LABEL table keeps
    # the eager localCheckpoint — it is re-derived every round, so its
    # lineage must be cut, and it is the nodes-sized (smaller) side.
    n_part = shuffle_partitions(pairs.sparkSession)
    edges = (
        _symmetric_edges(pairs, src, dst)
        .repartition(n_part, "d")
        .cache()
    )
    labels = (
        edges.select(F.col("s").alias("n"))
        .distinct()
        .withColumn("comp", F.col("n"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # candidate label for n: the min of its neighbors' current labels
        nbr_min = (
            edges.join(labels, edges["d"] == labels["n"])
            .groupBy("s")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # LAZY checkpoint, materialized by the convergence count just
        # below (r12): one driver job per round instead of two — the
        # eager form ran a materialization job AND a count job every
        # iteration. The count executes the full round plan, persists
        # the truncated RDD, and counts it in the same job; every later
        # consumer (both next-round joins) reads the persisted blocks.
        # A k>1 checkpoint window was considered and REJECTED without
        # timing: labels is consumed TWICE per round (nbr_min join +
        # update join), so an unmaterialized round recomputes its joins
        # 2x per skipped checkpoint — and skipping the count risks a
        # full wasted iteration past the fixpoint, which costs more
        # than the count it saves. Measured (64x pipescale corpus,
        # op_neardup_cluster composition, interleaved, outputs
        # bit-identical): 28.1/29.1/30.2 -> 26.8/27.7/28.8 s steady
        # rounds, 4-0 paired.
        new_labels = (
            labels.join(nbr_min, labels["n"] == nbr_min["s"], "left")
            .select(
                "n",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                F.col("comp").alias("old_comp"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("comp") != F.col("old_comp")).count()
        labels = new_labels.select("n", "comp")
        if changed == 0:
            break
    # the returned labels are checkpointed (no lineage back to edges), so
    # the pinned edge partitions can be released immediately
    edges.unpersist()
    return labels.select(F.col("n").alias("node"), F.col("comp").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Assign EVERY doc a cluster id: min reachable id through ``pairs``,
    or its own id when it has no near-dups (the common case — the label
    table only holds nodes that appear in an edge, so the left join
    stays proportional to the duplicate set, not the corpus)."""
    comp = connected_components(pairs, src=src, dst=dst)
    return docs.join(
        comp, docs[id_col] == comp["node"], "left"
    ).select(
        docs[id_col],
        F.coalesce(F.col("component"), docs[id_col]).alias("cluster_id"),
    )


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one canonical doc per duplicate cluster (the min id).

    The same rows as keeping the docs whose :func:`dedup_clusters` id is
    their own, computed as ``docs ⋉anti drop`` where ``drop`` holds the
    labelled nodes that are not their component's minimum. ``docs`` is
    read once, and ``drop`` grows with the duplicates, not the corpus.
    Docs with a null id are dropped, as the equality test drops them in
    the cluster form.

    ``docs`` is persisted (memory and disk) before
    :func:`connected_components` plans anything, and stays cached after
    this returns. Spark substitutes a cached plan wherever it recurs in
    a query planned later, so when ``pairs`` was built lazily from
    ``docs`` (:func:`~datafusion_python_spark.operators.dedup.lsh_star_edges`
    runs nothing while it builds), the edge build and the anti-join both
    read the cached docs: ``docs`` is computed once per call. Release it
    with ``docs.unpersist()`` or ``spark.catalog.clearCache()``.
    """
    docs = docs.persist()
    comp = connected_components(pairs)
    drop = comp.filter(F.col("node") != F.col("component")).select("node")
    return docs.filter(F.col(id_col).isNotNull()).join(
        drop, docs[id_col] == drop["node"], "left_anti"
    )
