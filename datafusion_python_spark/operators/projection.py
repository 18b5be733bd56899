"""Dimensionality reduction for embedding columns: deterministic sparse
random projection (Johnson–Lindenstrauss).

Reducing 1024-dim embeddings to 64–128 dims before ANN / near-dup
search shrinks every downstream shuffle, broadcast, and index by the
same factor while distorting pairwise distances by at most
O(sqrt(ln n / k)) — the standard first move for similarity search over
a 100 TB corpus (often composed with ``operators.quantize`` for a
combined 30–60× shrink).

The projection matrix is ±1 signs derived from md5(seed:j:i) parity —
regenerated identically on every executor, every engine, every rerun:
no broadcast state, no fitted model to version, and the oracle can
reproduce it bit-for-bit. Projection itself is one numpy matmul per
Arrow batch (``mapInArrow``) — map-only, no shuffle.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def projection_signs(in_dim: int, out_dim: int, seed: int = 0) -> list[list[float]]:
    """The ±1 sign matrix, row per output dim: sign(j,i) = +1 iff the
    first hex digit of md5(f"{seed}:{j}:{i}") is even. Deterministic and
    engine-portable (any md5 reproduces it)."""
    rows = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        rows.append(row)
    return rows


def random_projection(
    df: DataFrame,
    emb_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 0,
    out_col: str = "proj",
    normalize: bool = True,
) -> DataFrame:
    """Append ``out_col``: the input embedding projected to ``out_dim``
    dims via the deterministic ±1 matrix, scaled by ``1/sqrt(in_dim)``
    (with ``normalize=True``) so expected squared norms are preserved.

    Embeddings must share one dimension; since array lengths are not in
    the schema, ``in_dim`` is inferred by probing a single row (driver-
    side, O(1) — the same probe pattern as the ANN query vector).
    Components are rounded to 6 dp with ``_spark_round`` — Spark's
    HALF_UP-on-shortest-repr semantics, not np.round's half-even — for
    cross-engine reproducibility.

    One (n × in_dim) @ (in_dim × out_dim) matmul per Arrow batch; an
    interpreted ``zip_with``/``aggregate`` fold costs out_dim × in_dim
    lambda steps per vector instead (100 k × 64-dim → 16: fold 8.13 s,
    kernel 0.60 s). Map-only, all columns carried through. A null embedding raises (``_batch_matrix``) instead of
    yielding a null projection: the flatten-reshape would otherwise
    silently misalign every later row.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from .similarity import _batch_matrix, _spark_round

    probe = df.select(F.size(F.col(emb_col)).alias("n")).first()
    if probe is None or probe["n"] is None:
        raise ValueError("cannot infer embedding dimension from empty input")
    in_dim = int(probe["n"])
    signs = projection_signs(in_dim, out_dim, seed)
    scale = 1.0 / math.sqrt(in_dim) if normalize else 1.0
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(DoubleType()))]
    )

    def kernel(batches):
        w = np.asarray(signs, dtype=np.float64).T * scale  # in_dim × out_dim
        for b in batches:
            n = len(b)
            if n == 0:
                continue
            p = _spark_round(_batch_matrix(b, emb_col) @ w, 6)
            offsets = pa.array(
                np.arange(0, (n + 1) * out_dim, out_dim, dtype=np.int32)
            )
            proj = pa.ListArray.from_arrays(offsets, pa.array(p.ravel()))
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(b.num_columns)] + [proj],
                names=list(b.schema.names) + [out_col],
            )

    return df.mapInArrow(kernel, out_schema)
