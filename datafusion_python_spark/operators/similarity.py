"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (a single scan +
TakeOrderedAndProject — no shuffle of the corpus); the LSH-bucketed
and IVF variants are the scale path: random-hyperplane signatures or
coarse cells bucket the corpus so a query or self-join only touches
its bucket.

The hot per-row math — cosine top-k, IVF cell assignment (and so
``ivf_ann`` and SemDeDup's assignment), random projection — runs as a
numpy batch matmul over Arrow buffers via ``mapInArrow``. Catalyst
evaluates ``zip_with``/``aggregate`` lambdas per element (higher-order
functions are interpreted, not codegen'd), so the vectorized kernel
wins by a margin that widens with corpus size and dimensionality:
brute-force top-k over 100 k × 64-dim vectors measured 4.4× faster
than a ``zip_with``/``aggregate`` fold (a tie at 2 k vectors). Each batch emits
only bounded rows (top-k / a cell id), so shuffle volume — the thing
that matters at 100 TB — is the same as a declarative plan's. The LSH
signature and the pairwise join forms stay JVM expressions.

Kernel contract (each clause is tested):
- Rounding uses ``_spark_round`` — HALF_UP on the shortest decimal
  repr, exactly Spark's ``F.round`` (java BigDecimal.valueOf) — NOT
  ``np.round``, whose half-even ties on the binary double diverge.
- Degenerate vectors fail loudly: a zero-norm embedding, centroid or
  query raises ``ValueError`` ("zero-norm"), and a null embedding
  raises too (the flatten-reshape would otherwise silently misalign
  rows) — a JVM cosine expression would raise ANSI DIVIDE_BY_ZERO on
  the first and yield a null cosine on the second. Null IDS are
  tolerated wherever a sort tolerates them (``cosine_topk``: the id
  only joins the tie-break, NULLS FIRST asc) and raise only where a
  pair min/max needs them (the near-dup kernels).
- NaN follows Spark's total order (NaN above every double): NaN
  cosines survive ``>= threshold`` filters and win top-k selection.
  One documented edge: local selection keys NaN as +inf, so a genuine
  +inf cosine (embedding containing inf) ties with NaN instead of
  sorting strictly below it.
- Top-k tie-breaks sort (score desc, id asc) via pyarrow
  ``sort_indices`` on the original id column — string and any other
  orderable id types work; ``np.lexsort`` would object-promote them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._util import shuffle_partitions, spread_small_input


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (splitmix64-style mix).

    Derived from (plane, dim) constants so every executor — and every
    rerun — regenerates identical planes with no broadcast state.
    """
    out = []
    for p in range(1, n_planes + 1):
        vals = []
        for d in range(dim):
            x = (p * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 31
            x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 29
            vals.append(((x & 0xFFFF) / 65535.0) * 2.0 - 1.0)
        out.append(vals)
    return out


def _signature(emb: Column, planes: list[list[float]]) -> Column:
    out = F.lit(0)
    for i, pl in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in pl])
        out = out.bitwiseOR(F.when(_dot(emb, arr) >= 0, 1 << i).otherwise(0))
    return out


def _spark_round(a, decimals: int = 6):
    """Vectorized round matching Spark's ``F.round`` on doubles bit-for-bit.

    Spark rounds HALF_UP on the shortest decimal repr of the double
    (java BigDecimal.valueOf → setScale), while ``np.round`` rounds
    half-even on the binary value — they disagree exactly when the
    scaled value sits on (or within float error of) a ``.5`` tie. The
    fast path is np.round; elements near a tie are recomputed exactly
    through decimal. The near-tie band is max(1e-6, 4 ulp of the
    scaled value): the fixed floor covers cosine-range magnitudes, the
    ulp term keeps the net wide enough for unbounded inputs (e.g.
    ``random_projection`` components), where ``a * 1e6`` alone
    can carry more than 1e-6 of float error. Widening only routes more
    elements through the exact path. NaN/inf pass through untouched.
    """
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    a = np.asarray(a, dtype=np.float64)
    r = np.round(a, decimals)
    scaled = a * (10.0 ** decimals)
    with np.errstate(invalid="ignore"):
        tol = np.maximum(1e-6, 4.0 * np.spacing(np.abs(scaled)))
        near = np.abs(scaled - np.floor(scaled) - 0.5) < tol
        # Beyond 2^53 the scaled double has no fractional part: np.round
        # is exact and the ulp-widened band would flag every element.
        near &= np.abs(scaled) < 2.0 ** 53
    near &= np.isfinite(a)
    if near.any():
        q = Decimal(1).scaleb(-decimals)
        flat_a, flat_r = a.ravel(), r.ravel()
        for i in np.nonzero(near.ravel())[0]:
            flat_r[i] = float(
                Decimal(repr(float(flat_a[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return r


def _batch_matrix(batch, vec_col: str):
    """(n, dim) float64 matrix from an Arrow list column, offset-safe.

    Nulls are rejected up front: ``flatten()`` silently drops a null
    row's slots, so a null embedding would either break the reshape or
    misalign every subsequent row's vector. Ragged rows get the same loud
    treatment: per-row lengths are validated from the ListArray offsets
    (an aggregate ``len % n`` check would let rows of e.g. 3 and 5
    slots at dim 4 reshape silently and misalign every vector).
    """
    import numpy as np
    import pyarrow.compute as pc

    col = batch.column(vec_col)
    if col.null_count:
        raise ValueError(
            f"null values in embedding column {vec_col!r}: the Arrow kernels "
            "require non-null, fixed-dimension embeddings"
        )
    n = len(batch)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    mm = pc.min_max(pc.list_value_length(col))
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if lo != hi:
        raise ValueError(
            f"ragged embedding column {vec_col!r}: row lengths vary "
            f"between {lo} and {hi}"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(n, -1)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest neighbors to ``query_vec`` by cosine.

    One pass over the corpus: each Arrow batch computes all its cosines
    in one matmul and emits only its local top-k (selected on the
    ROUNDED score — Spark's HALF_UP 6-dp rounding via ``_spark_round``
    — with the id tie-break through pyarrow ``sort_indices``, so any
    orderable id type works); the global sort+limit fuses to
    TakeOrderedAndProject and sees #batches × k rows no matter how
    large the corpus is — works unchanged at 100 TB. Zero-norm
    embeddings (or query) raise ``ValueError`` and null embeddings
    raise (see the module docstring); null ids are tolerated — the id
    only joins the tie-break, where Spark's ascending order puts NULL
    first, matched here via ``null_placement="at_start"``.
    """
    import numpy as np
    import pyarrow as pa

    qv = [float(v) for v in query_vec]
    if sum(v * v for v in qv) == 0.0:
        raise ValueError("cosine_topk: query vector has zero norm")
    id_field = df.schema[id_col]
    out_schema = f"{id_col} {id_field.dataType.simpleString()}, cosine double"

    def kernel(batches):
        import pyarrow.compute as pc

        q = np.asarray(qv, dtype=np.float64)
        qn = np.sqrt(q @ q)
        for b in batches:
            if len(b) == 0:
                continue
            ids = b.column(id_col)
            m = _batch_matrix(b, vec_col)
            norms = np.sqrt((m * m).sum(axis=1)) * qn
            if (norms == 0).any():
                raise ValueError("cosine_topk: zero-norm embedding")
            cos = _spark_round((m @ q) / norms, 6)
            # Spark's total order puts NaN above every double: key it as
            # +inf so NaN rows win local selection like they win the
            # global desc sort.
            key = np.where(np.isnan(cos), np.inf, cos)
            order = pc.sort_indices(
                pa.table({"k": pa.array(key), "i": ids}),
                sort_keys=[("k", "descending"), ("i", "ascending")],
                null_placement="at_start",
            )[:k]
            yield pa.RecordBatch.from_arrays(
                [ids.take(order), pa.array(cos).take(order)],
                names=[id_col, "cosine"],
            )

    return (
        df.select(id_col, vec_col)
        .mapInArrow(kernel, out_schema)
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def lsh_signature(
    df: DataFrame, dim: int, vec_col: str = "embedding", n_planes: int = 6
) -> DataFrame:
    """Append the random-hyperplane ``bucket`` signature column.

    At ingest scale this column becomes the bucketing/partition key, so
    later ANN probes and near-dup joins are partition-local.
    """
    emb = F.col(vec_col).cast("array<double>")
    return df.withColumn("bucket", _signature(emb, _planes(dim, n_planes)))


def _probe_signatures(query_vec, planes, n_probes: int) -> list[int]:
    """Multi-probe sequence: the query's bucket first, then buckets
    reached by flipping the planes the query is CLOSEST to (smallest
    |margin| — most likely to hold near neighbors), then the cheapest
    double flips. Standard multi-probe LSH perturbation ordering."""
    import itertools

    margins = [sum(a * b for a, b in zip(query_vec, pl)) for pl in planes]
    qs = 0
    for i, m in enumerate(margins):
        if m >= 0:
            qs |= 1 << i
    order = sorted(range(len(planes)), key=lambda i: abs(margins[i]))
    probes = [qs]
    for i in order:
        if len(probes) >= n_probes:
            return probes
        probes.append(qs ^ (1 << i))
    for i, j in itertools.combinations(order, 2):
        if len(probes) >= n_probes:
            return probes
        probes.append(qs ^ (1 << i) ^ (1 << j))
    return probes


def lsh_bucket_ann(
    df: DataFrame,
    query_vec: list[float],
    n_planes: int = 6,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket(s), exact rerank.

    Candidate set shrinks ~2^n_planes/n_probes-fold vs brute force; the
    rerank is :func:`cosine_topk` over the probed rows.
    ``n_probes > 1`` raises recall by also scanning the buckets whose
    separating hyperplanes the query sits closest to (multi-probe LSH) —
    the probe set is a literal IN filter on the bucket column, so with a
    bucketed/partitioned corpus the scan stays partition-local at scale.
    """
    planes = _planes(len(query_vec), n_planes)
    probes = _probe_signatures(query_vec, planes, max(1, n_probes))
    emb = F.col(vec_col).cast("array<double>")
    bucket_filter = (
        F.col("bucket") == F.lit(probes[0])
        if len(probes) == 1
        else F.col("bucket").isin(probes)
    )
    probed = df.withColumn("bucket", _signature(emb, planes)).filter(bucket_filter)
    return cosine_topk(probed, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Append the IVF coarse-cell id: argmax cosine over the centroid list.

    One (n × dim) @ (dim × n_list) matmul per Arrow batch (centroids are
    captured in the kernel closure — no broadcast state), so assignment
    is a map-only pass: at ingest scale the cell id becomes the
    partition/bucket key exactly like the LSH signature. Exact-tie
    argmax resolves to the lowest cell id, and a centroid whose cosine
    is NaN ranks last. Zero-norm members or centroids raise
    ``ValueError`` and null embeddings raise (see the module
    docstring). Not a contract: bit-equal cosines with a sequential
    dot-product fold — the matmul sums pairwise/SIMD, so a near-tie
    inside ~1 ulp may pick the other (equally near) cell. IVF is a
    coarse quantizer; probe sets absorb that. All input columns are
    carried through, so it composes with bucketed ingest layouts.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import IntegerType, StructField, StructType

    cents = [[float(v) for v in c] for c in centroids]
    if any(sum(v * v for v in c) == 0.0 for c in cents):
        raise ValueError("ivf_assign: zero-norm centroid")
    # fresh StructType: StructType.add mutates (and df.schema is cached)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(cell_col, IntegerType())]
    )

    def kernel(batches):
        c = np.asarray(cents, dtype=np.float64)
        cn = np.sqrt((c * c).sum(axis=1))
        cu = c / cn[:, None]
        for b in batches:
            if len(b) == 0:
                continue
            m = _batch_matrix(b, vec_col)
            norms = np.sqrt((m * m).sum(axis=1))
            if (norms == 0).any():
                raise ValueError("ivf_assign: zero-norm embedding")
            cos = (m / norms[:, None]) @ cu.T
            # NaN cosine → that centroid ranks last (Spark: NaN is the
            # largest double); an all-NaN row ties → lowest cell id,
            # which argmax over all -inf also yields.
            cos[np.isnan(cos)] = -np.inf
            best = pa.array(np.argmax(cos, axis=1).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(b.num_columns)] + [best],
                names=list(b.schema.names) + [cell_col],
            )

    return df.mapInArrow(kernel, out_schema)


def ivf_centroids(
    df: DataFrame,
    n_list: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> list[list[float]]:
    """Deterministic coarse-quantizer seeds: the first n_list vectors by
    id, optionally refined with ``refine_iters`` k-means passes.

    Each refinement pass is one distributed job — assign
    (:func:`ivf_assign`, map-only) then posexplode+avg (one shuffle on
    (cell, dim)) — and pulls only n_list centroid rows to the driver,
    the same bounded footprint as the seed fetch. Empty cells keep
    their previous centroid.
    """
    rows = df.select(F.col(vec_col).cast("array<double>").alias("v")).orderBy(
        id_col
    ).limit(n_list).collect()
    cents = [list(r["v"]) for r in rows]
    for _ in range(max(0, refine_iters)):
        assigned = ivf_assign(df, cents, vec_col=vec_col)
        means = (
            assigned.select(
                "ivf_cell", F.posexplode(F.col(vec_col).cast("array<double>"))
            )
            .groupBy("ivf_cell", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("ivf_cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("ivf_cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        for r in means:
            cents[r["ivf_cell"]] = list(r["centroid"])
    return cents


def ivf_ann(
    df: DataFrame,
    query_vec: list[float],
    n_list: int = 16,
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to coarse cells, scan only
    the ``n_probe`` cells nearest the query, exact cosine rerank inside.

    The probe set is a literal IN filter on the cell column — with the
    corpus bucketed by cell (the ingest-time layout at 100 TB), a query
    touches n_probe/n_list of the data and the rerank fuses to
    TakeOrderedAndProject per-partition heaps. Assignment is
    :func:`ivf_assign` and the rerank is :func:`cosine_topk` — one batch
    matmul each instead of n_list interpreted folds per row. Probe-cell
    membership is not bit-contractual near assignment ties (see
    :func:`ivf_assign`).
    """
    cents = centroids if centroids is not None else ivf_centroids(df, n_list, id_col, vec_col)

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return num / den if den else 0.0

    ranked = sorted(range(len(cents)), key=lambda ci: -cos(query_vec, cents[ci]))
    probe_cells = ranked[: max(1, n_probe)]
    cell_filter = (
        F.col("ivf_cell") == F.lit(probe_cells[0])
        if len(probe_cells) == 1
        else F.col("ivf_cell").isin(probe_cells)
    )
    assigned = ivf_assign(df, cents, vec_col=vec_col).filter(cell_filter)
    return cosine_topk(assigned, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def cosine_near_dup_pairs_arrow(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
) -> DataFrame:
    """``cosine_near_dup_pairs`` with a per-bucket matmul kernel.

    Same LSH bucketing and one shuffle (groupBy bucket instead of a
    bucket self-join), but inside a bucket all pairwise cosines come
    from one normalized U @ U.T instead of a per-pair interpreted
    expression — measured 1.6× at 2 k × 64-dim and widening with bucket
    size and dimensionality. Trade-off vs the join form: applyInPandas
    materializes one bucket per task (bucket_size × dim × 8 bytes plus
    the n² score tile), so at 100 TB pair it with enough hyperplanes to
    bound bucket sizes — or keep the JVM join path, which streams
    pairs, for skew-prone signatures. Pair output (id_a < id_b, Spark
    HALF_UP 6-dp rounding, ≥ threshold) is bit-identical to the JVM
    path: NaN cosines are KEPT (Spark orders NaN above every double,
    so ``NaN >= threshold`` holds there too), zero-norm embeddings and
    null ids/embeddings raise (the JVM divide raises under ANSI).
    """
    import numpy as np
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, cosine double"
    sig = lsh_signature(df, dim=dim, vec_col=vec_col, n_planes=n_planes)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if pdf[id_col].isna().any() or pdf[vec_col].isna().any():
            raise ValueError(
                "cosine_near_dup_pairs_arrow: null id or embedding values "
                "are not supported"
            )
        ids = pdf[id_col].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(m, axis=1)
        if (norms == 0).any():
            raise ValueError(
                "cosine_near_dup_pairs_arrow: zero-norm embedding (the JVM "
                "path raises DIVIDE_BY_ZERO here under ANSI mode)"
            )
        u = m / norms[:, None]
        s = _spark_round(u @ u.T, 6)
        ia, ib = np.triu_indices(n, k=1)
        sv = s[ia, ib]
        # Spark: NaN >= threshold is TRUE (NaN above every double)
        keep = (sv >= threshold) | np.isnan(sv)
        lo = np.minimum(ids[ia][keep], ids[ib][keep])
        hi = np.maximum(ids[ia][keep], ids[ib][keep])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sv[keep]})

    # pin the exchange partition count: 2^n_planes buckets of
    # embedding arrays are AQE-coalescible into a couple of tasks,
    # which would serialize the per-bucket matmuls (same trap + fix as
    # semantic_dedup's chunk-pair schedule, measured 2.3x there)
    n_part = shuffle_partitions(df.sparkSession)
    return (
        sig.select(id_col, vec_col, "bucket")
        .repartition(n_part, "bucket")
        .groupBy("bucket")
        .applyInPandas(per_bucket, out_schema)
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    exact: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs with cosine ≥ threshold.

    Default path buckets by hyperplane signature and compares within a
    bucket (join keyed on ``bucket`` — linear-ish shuffle); high-cosine
    pairs land in the same bucket with probability (1−θ/π)^n_planes.
    ``exact=True`` runs the full O(n²) self-join — for oracle validation
    at test scale, never at 100 TB.

    Norms are computed per ROW on each side of the join (a scalar
    column the exchange materializes), so the per-PAIR work is a single
    dot fold plus scalar arithmetic instead of dot + two norm folds —
    higher-order lambdas are interpreted per element and the pair count
    is what explodes, so this cuts the dominant term ~3× while keeping
    the cosine expression ``dot/(na*nb)`` bit-identical to before.

    The input is spread first when the plan shows it is small (see
    spread_small_input; decided while planning, no job runs): the per-pair
    dot fold runs at the STREAMED side's parallelism — for the exact
    path that is a BroadcastNestedLoopJoin whose task count equals the
    scan's partition count, so a single-row-group input evaluates every
    pair serially (measured at sf0.1: one task owned all ~12M pair
    folds). No-op at production scale.
    """
    df = spread_small_input(df)
    emb = F.col(vec_col).cast("array<double>")
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), emb.alias("va"), _norm(emb).alias("na"))
        b = df.select(F.col(id_col).alias("id_b"), emb.alias("vb"), _norm(emb).alias("nb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        sig = lsh_signature(df, dim=dim, vec_col=vec_col, n_planes=n_planes)
        a = sig.select(
            F.col(id_col).alias("id_a"), "bucket", emb.alias("va"), _norm(emb).alias("na")
        )
        b = sig.select(
            F.col(id_col).alias("id_b"), "bucket", emb.alias("vb"), _norm(emb).alias("nb")
        )
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )
