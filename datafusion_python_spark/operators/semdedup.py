"""Semantic (embedding-space) deduplication — SemDeDup.

Shape from Abbas et al. 2023 ("SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): cluster
the corpus embeddings with k-means, compare cosine similarity ONLY
within a cluster, and drop every point that has a more-canonical
near-duplicate. The reference engine has no semantic-dedup operator;
this is a beyond-parity pipeline op built on the IVF machinery in
:mod:`.similarity`.

100 TB design:
- clustering reuses :func:`..operators.similarity.ivf_centroids` —
  deterministic seeds, optional Lloyd refinement passes, and only
  ``n_clusters`` rows ever reach the driver;
- assignment is :func:`..operators.similarity.ivf_assign` — a numpy
  argmax-cosine kernel over Arrow batches, a map-only pass (no
  broadcast state);
- the quadratic pairwise stage is fenced inside clusters: the
  self-join keys on the cell id, so each partition holds one cluster's
  members and total work is Σ|cluster|² ≈ n²/k instead of n²;
- the drop is a single distinct + LeftAnti join on the id — the
  canonical-survivor rule (keep the lowest id of any near-dup pair) is
  deterministic and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._util import lpt_bins, partition_salts, shuffle_partitions
from .similarity import ivf_assign, ivf_centroids


def semantic_dup_ids(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Ids that have a lower-id near-duplicate in the same cluster.

    Norms are computed per ROW on each join side (materialized at the
    exchange), so a candidate pair costs one dot fold plus scalar
    arithmetic instead of three interpreted folds — the same ~3× cut
    of the dominant pairwise term as cosine_near_dup_pairs, with the
    cosine expression ``dot/(na*nb)`` unchanged bit-for-bit."""
    from .similarity import _dot, _norm

    emb = F.col(vec_col).cast("array<double>")
    a = assigned.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("id_a"),
        emb.alias("va"),
        _norm(emb).alias("na"),
    )
    b = assigned.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("id_b"),
        emb.alias("vb"),
        _norm(emb).alias("nb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


def semantic_dup_ids_arrow(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    block: int = 4096,
) -> DataFrame:
    """``semantic_dup_ids`` with a per-cluster matmul kernel.

    Same one shuffle (groupBy cell instead of a cell self-join), but a
    cluster's pairwise cosines come from one normalized ``U @ U.T``
    instead of join-row materialization of the array payloads — the
    JVM path ships |cluster|² (va, vb) array pairs through the
    exchange, which PIPESCALE measured as the dominant cost at 64×
    (~523 rows/s); here the exchange carries each vector ONCE and the
    n² term is a BLAS tile that never leaves the task. The score tile
    is column-blocked (``block``) so peak memory is
    |cluster| × block doubles, not |cluster|²; each cluster emits its
    dup ids already-distinct (a vector lives in exactly one cluster),
    so the JVM path's global ``distinct()`` shuffle disappears too.

    Decision parity with :func:`semantic_dup_ids`: same dup rule
    (exists a strictly lower id in the cell with cosine ≥ threshold),
    NaN cosines dup like the JVM path (Spark's total order makes
    ``NaN >= t`` true), zero-norm embeddings raise (the JVM divide
    raises DIVIDE_BY_ZERO under ANSI), null ids/embeddings raise
    loudly rather than silently dropping like a null comparison would.
    NOT a contract: bit-equal raw cosines — the JVM folds dot products
    sequentially, the kernel uses pairwise/SIMD matmul, so a pair
    whose cosine sits within ~1 ulp of ``threshold`` can decide
    differently. SemDeDup thresholds are coarse policy knobs; the
    within-epsilon band is empty on real corpora (asserted for the
    gate data by the parity test).

    At 100 TB: one task holds one cluster's matrix (|cluster| × dim
    doubles) — size ``n_clusters`` so clusters fit an executor; skewed
    megaclusters are the same hazard the JVM path has, but at 8 bytes
    × dim per member instead of that squared.
    """
    import numpy as np
    import pandas as pd

    id_t = assigned.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}"

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({id_col: pd.Series([], dtype=pdf[id_col].dtype)})
        if pdf[id_col].isna().any() or pdf[vec_col].isna().any():
            raise ValueError(
                "semantic_dup_ids_arrow: null id or embedding values are "
                "not supported"
            )
        ids = pdf[id_col].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(m, axis=1)
        if (norms == 0).any():
            raise ValueError(
                "semantic_dup_ids_arrow: zero-norm embedding (the JVM path "
                "raises DIVIDE_BY_ZERO here under ANSI mode)"
            )
        dup = _dup_flags(ids, m / norms[:, None], threshold, block)
        return pd.DataFrame({id_col: ids[dup]})

    # pin the exchange partition count: n_clusters cells of embedding
    # arrays are AQE-coalescible into a couple of tasks, serializing the
    # per-cell matmuls (same trap + fix as semantic_dedup's capped path)
    n_part = shuffle_partitions(assigned.sparkSession)
    return (
        assigned.select(F.col(cell_col).alias("cell"), id_col, vec_col)
        .repartition(n_part, "cell")
        .groupBy("cell")
        .applyInPandas(per_cell, out_schema)
    )


def _dup_flags(ids, u, threshold: float, block: int):
    """Per-row "has a strictly-lower-id near-duplicate" flags from the
    normalized matrix ``u``, column-blocked so peak memory is
    ``len(ids) × block`` doubles. NaN cosines dup (Spark: NaN >= t)."""
    import numpy as np

    n = len(ids)
    dup = np.zeros(n, dtype=bool)
    for j0 in range(0, n, block):
        j1 = min(j0 + block, n)
        s = u @ u[j0:j1].T  # (n, block) tile
        hit = (s >= threshold) | np.isnan(s)
        hit &= ids[:, None] < ids[None, j0:j1]  # strictly lower id only
        dup[j0:j1] |= hit.any(axis=0)
    return dup


def _cross_dup_flags(ids_a, u_a, ids_b, u_b, threshold: float, block: int):
    """Both directions of the cross-chunk half of the megacluster pair
    schedule from ONE matmul per tile: cosine is symmetric, so the
    (A, B-block) score tile answers "a has a lower-id dup in B" AND
    "b has a lower-id dup in A" — computing the transposed B @ Aᵀ pass
    separately (the round-≤9 shape) doubled the dominant kernel work of
    every mixed chunk-pair task for nothing. Returns ``(dup_a, dup_b)``
    flag arrays; same blocking bound as :func:`_dup_flags` (peak
    ``len(A) × block`` doubles)."""
    import numpy as np

    dup_a = np.zeros(len(ids_a), dtype=bool)
    dup_b = np.zeros(len(ids_b), dtype=bool)
    for j0 in range(0, len(ids_b), block):
        j1 = min(j0 + block, len(ids_b))
        s = u_a @ u_b[j0:j1].T  # (len(A), block) tile
        near = (s >= threshold) | np.isnan(s)
        dup_a |= (near & (ids_b[None, j0:j1] < ids_a[:, None])).any(axis=1)
        dup_b[j0:j1] |= (near & (ids_a[:, None] < ids_b[None, j0:j1])).any(
            axis=0
        )
    return dup_a, dup_b


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    centroids: list[list[float]] | None = None,
    arrow: bool = False,
    max_cell: int | None = 65536,
) -> DataFrame:
    """SemDeDup: cluster-bounded cosine dedup over an embedding column.

    Returns the surviving rows of ``df`` with an ``ivf_cell`` cluster-id
    column appended. A row is dropped iff some lower-``id_col`` row in
    the SAME cluster has cosine similarity ≥ ``threshold`` with it —
    near-duplicates straddling a cluster boundary are kept (the
    documented SemDeDup approximation that makes the op linear-ish).

    Both paths assign with :func:`ivf_assign` (one batch matmul per
    Arrow batch). ``arrow=True`` then runs the fused plan: ONE shuffle
    (groupBy cell) into a per-cluster kernel that emits the surviving
    rows directly — no dup-id distinct, no LeftAnti join, and the
    assignment stage runs once instead of the default plan's twice
    (the anti-join recomputes its build side). Same decision rule; the
    only non-contract is ulp-level cosine equality near ties (see
    :func:`semantic_dup_ids_arrow`). PIPESCALE 64× (measured with an
    interpreted assignment fold): 244.9 s (JVM) → fused Arrow well
    under the pair-stage-only twin's 84.6 s, because the measured cost
    was never the matmul — it was join-row materialization plus the
    doubled assignment.

    ``max_cell`` (arrow path) bounds MEGACLUSTER skew: the fused kernel
    holds one cluster's matrix per task, so a cluster holding half the
    corpus would put n/2 × dim doubles in one task while every other
    core idles. Cells larger than ``max_cell`` are split into
    ``ceil(|cell|/max_cell)`` deterministic hash chunks and scheduled
    as chunk PAIRS: every same-cell row pair still co-occurs in exactly
    the (chunk_i, chunk_j) task, so the dup rule is IDENTICAL (a row
    drops iff some strictly-lower-id row in the same CELL clears the
    threshold — not per-chunk), while per-task peak memory is bounded
    by ~2·max_cell × dim doubles (hash chunks are balanced in
    expectation; the spread is O(√max_cell), negligible at real cap
    sizes — exact balancing would need a per-cell row_number window,
    which re-creates the single-task megacluster sort the cap exists
    to avoid). NOTE — eager evaluation: with ``arrow=True`` and
    ``max_cell`` set, building the returned DataFrame runs Spark jobs
    IMMEDIATELY (a checkpoint materializes the assignment and a
    bounded ≤ ``n_clusters``-row collect fetches cell sizes for the
    driver-side LPT chunk-pair placement), so constructing the plan
    twice pays the assignment twice even if no action ever runs —
    callers that need laziness should build once and reuse the
    DataFrame, or pass ``max_cell=None``. The oversized cells pay the
    unavoidable |cell|²/max_cell work as |cell|/max_cell row
    replication across tasks (that IS the n² being spread out), plus a
    distinct + left-anti join that only those cells' rows enter; cells
    within the cap keep the fused single-pass plan. ``None`` disables
    the split (pre-cap behavior).
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(df, n_clusters, id_col, vec_col, refine_iters)
    )
    assigned = ivf_assign(df, cents, vec_col=vec_col)
    if not arrow:
        dups = semantic_dup_ids(assigned, threshold, id_col, vec_col)
        return assigned.join(dups, id_col, "left_anti")

    import numpy as np
    import pandas as pd

    out_schema = assigned.schema
    out_cols = [f.name for f in out_schema.fields]

    def _validated(pdf: pd.DataFrame):
        # null and zero-norm embeddings never get here: ivf_assign rejects
        # both before a row has a cell
        if pdf[id_col].isna().any():
            raise ValueError("semantic_dedup(arrow=True): null id values are not supported")
        ids = pdf[id_col].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        return ids, m / np.linalg.norm(m, axis=1)[:, None]

    def survivors(pdf: pd.DataFrame) -> pd.DataFrame:
        # select out_cols explicitly: the placed exchange below carries a
        # _salt routing column that must not reach the output schema
        if len(pdf) < 2:
            return pdf[out_cols]
        ids, u = _validated(pdf)
        dup = _dup_flags(ids, u, threshold, block=4096)
        return pdf.loc[~dup, out_cols]

    # Pin the partition count on every applyInPandas grouping below: the
    # group-key cardinality is small (n_clusters cells / tens of chunk
    # pairs) and the grouped rows carry full embedding arrays, so AQE's
    # size-based coalescing happily folds the exchange into 1-2 tasks
    # and the per-group numpy kernels run SEQUENTIALLY in a couple of
    # python workers (measured on the 64x skew corpus: ~95 s wall for
    # ~38 s of kernel CPU; pinning restores one-task-per-group
    # parallelism). A repartition on the exact grouping keys satisfies
    # the applyInPandas distribution requirement, so no second exchange
    # is inserted — same trap + fix as tpch_q16 / near_dup_pairs_lsh.
    n_part = shuffle_partitions(df.sparkSession)

    if max_cell is None:
        return (
            assigned.repartition(n_part, "ivf_cell")
            .groupBy("ivf_cell")
            .applyInPandas(survivors, out_schema)
        )

    # Megacluster cap: materialize the assignment once (every branch
    # below reads it — without the checkpoint the size aggregate, both
    # filter branches, and the anti-join probe would each recompute the
    # assignment matmul, the exact doubled-work trap the fused path
    # removed), split oversized cells into hash chunks, and schedule
    # chunk PAIRS so the dup rule stays cell-global.
    sizes = assigned.groupBy("ivf_cell").agg(F.count("*").alias("_cell_n"))
    tagged = assigned.join(F.broadcast(sizes), "ivf_cell").localCheckpoint(
        eager=False
    )
    small = tagged.filter(F.col("_cell_n") <= max_cell)
    big = tagged.filter(F.col("_cell_n") > max_cell)

    # Deterministic task placement for EVERY per-cell kernel (round-9
    # regression root cause; see the chunk-pair comment below): collect
    # the cell sizes once (bounded ≤ n_clusters rows, off the
    # checkpointed assignment — the same bounded-metadata-collect
    # precedent as ivf_centroids), enumerate all kernel groups — one per
    # small cell, one per oversized-cell chunk pair — and LPT-pack them
    # JOINTLY onto the task slots by estimated kernel cost, so no two
    # heavy kernels serialize in one task.
    cell_sizes = [
        (int(r["ivf_cell"]), int(r["_cell_n"]))
        for r in tagged.groupBy("ivf_cell")
        .agg(F.first("_cell_n").alias("_cell_n"))
        .collect()
    ]
    groups: list[tuple] = []  # ("s", cell) | ("b", cell, lo, hi)
    weights: list[float] = []
    for cell, n_rows in cell_sizes:
        if n_rows <= max_cell:
            groups.append(("s", cell))
            weights.append(float(n_rows) * n_rows)
        else:
            k = -(-n_rows // max_cell)  # == F.ceil(_cell_n / max_cell)
            c = n_rows / k
            for lo in range(k):
                for hi in range(lo, k):
                    groups.append(("b", cell, lo, hi))
                    # diagonal and mixed groups both run one c×c tile
                    # pass (the cross kernel reuses its tile for both
                    # directions); mixed pays a second comparison sweep
                    weights.append(c * c if lo == hi else 1.25 * c * c)
    salts = partition_salts(n_part)
    bins = lpt_bins(weights, n_part) if groups else []
    placed = {g: salts[b] for g, b in zip(groups, bins)}
    small_groups = [g for g in groups if g[0] == "s"]
    big_groups = [g for g in groups if g[0] == "b"]

    if small_groups:
        place_s = df.sparkSession.createDataFrame(
            [(g[1], placed[g]) for g in small_groups],
            "ivf_cell int, _salt int",
        )
        small_out = (
            small.drop("_cell_n")
            .join(F.broadcast(place_s), "ivf_cell")
            .repartition(n_part, "_salt")
            .groupBy("_salt", "ivf_cell")
            .applyInPandas(survivors, out_schema)
        )
    else:
        small_out = (
            small.drop("_cell_n")
            .repartition(n_part, "ivf_cell")
            .groupBy("ivf_cell")
            .applyInPandas(survivors, out_schema)
        )

    n_chunks = F.ceil(F.col("_cell_n") / F.lit(max_cell)).cast("int")
    chunk = F.pmod(F.xxhash64(F.col(id_col)), n_chunks).cast("int")
    paired = (
        big.withColumn("_chunk", chunk)
        .withColumn("_other", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn("_lo", F.least("_chunk", "_other"))
        .withColumn("_hi", F.greatest("_chunk", "_other"))
        # (a,b) and (b,a) collapse onto one group key; a chunk-a row
        # reaches group (a,b) exactly once (via _other = b), so the
        # group holds chunk a ∪ chunk b with no duplicates. CROSS-chunk
        # pairs co-occur in exactly one task (group (a,b)); same-chunk
        # pairs co-occur in every (a,j) group, so the kernel below
        # compares them only in the diagonal group (a,a) — mixed groups
        # run the cross-chunk matmul only, no redundant intra-chunk work
    )
    id_t = out_schema[id_col].dataType.simpleString()

    def dup_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({id_col: pd.Series([], dtype=pdf[id_col].dtype)})
        if pdf["_lo"].iat[0] == pdf["_hi"].iat[0]:
            ids, u = _validated(pdf)
            dup = _dup_flags(ids, u, threshold, block=4096)
            return pd.DataFrame({id_col: ids[dup]})
        # mixed (lo, hi) group: intra-chunk pairs are the diagonal
        # groups' job — compare cross-chunk only (A vs B and B vs A),
        # quartering the tile work per mixed group
        lo_mask = (pdf["_chunk"] == pdf["_lo"]).to_numpy()
        a, b = pdf[lo_mask], pdf[~lo_mask]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({id_col: pd.Series([], dtype=pdf[id_col].dtype)})
        ids_a, u_a = _validated(a)
        ids_b, u_b = _validated(b)
        dup_a, dup_b = _cross_dup_flags(
            ids_a, u_a, ids_b, u_b, threshold, block=4096
        )
        return pd.DataFrame(
            {id_col: np.concatenate([ids_a[dup_a], ids_b[dup_b]])}
        )

    # Why placement instead of a plain keyed repartition (round-9
    # regression root cause): a megacluster decomposes into only
    # ~k(k+1)/2 heavy chunk-pair groups, and hash-partitioning g heavy
    # keys into n_part partitions lands two of them in one task with
    # probability ≈ 1 − exp(−g²/2·n_part) — >75% for g=10, n=32 —
    # serializing their quadratic kernels (the (31+1)/32 straggler tail
    # PIPESCALE measured as 96 s vs 42 s at 64×; round 8's 42 s had
    # simply won that hash draw). The exchange is instead keyed by a
    # per-group salt int whose Spark hash lands in the LPT-chosen
    # partition (murmur3_int32 == F.hash, pytest-asserted). groupBy
    # keeps the real keys (the salt is functionally determined by them,
    # so the groups are unchanged), and HashPartitioning on a SUBSET of
    # the grouping keys satisfies the ClusteredDistribution
    # applyInPandas requires — no second exchange appears (plan-audited).
    if not big_groups:
        # no oversized cells — big/paired are empty; keep the plain
        # hash-keyed shape (it sees zero rows)
        dups = (
            paired.repartition(n_part, "ivf_cell", "_lo", "_hi")
            .groupBy("ivf_cell", "_lo", "_hi")
            .applyInPandas(dup_ids, f"{id_col} {id_t}")
            .distinct()
        )
    else:
        place_b = df.sparkSession.createDataFrame(
            [(g[1], g[2], g[3], placed[g]) for g in big_groups],
            "ivf_cell int, _lo int, _hi int, _salt int",
        )
        dups = (
            paired.join(F.broadcast(place_b), ["ivf_cell", "_lo", "_hi"])
            .repartition(n_part, "_salt")
            .groupBy("_salt", "ivf_cell", "_lo", "_hi")
            .applyInPandas(dup_ids, f"{id_col} {id_t}")
            .distinct()
        )
    big_out = big.join(dups, id_col, "left_anti").select(*out_cols)
    return small_out.select(*out_cols).unionByName(big_out)
