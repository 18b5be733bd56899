"""Exact substring (k-token span) deduplication across a corpus.

The training-data op popularized by "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022): any k-token window that
occurs more than once corpus-wide is a duplicated span, and all but one
occurrence should be stripped. The reference suffix-array construction
is single-machine; the distributed re-expression is a hashed span
inverted index — the same shape as MinHash/LSH dedup
(``operators/dedup.py``) but exact at span granularity:

1. tokenize each doc (whitespace), emit every k-token window as
   ``(doc, pos, hash(window))`` — a map-only explode, no shuffle;
2. one shuffle on the span hash: occurrence count + the canonical
   first occurrence ``min(doc, pos)`` per hash (window function —
   count and keeper come from the same exchange);
3. non-keeper occurrences merge into maximal per-doc token regions
   (runs of overlapping spans) with a per-doc window — second, smaller
   shuffle on doc id;
4. region stripping rebuilds text with higher-order functions
   (indexed filter + concat_ws) — map-only, no Python.

Cost model at 100 TB: step 2 shuffles ~one row per corpus token — the
irreducible cost of exact span dedup (the suffix array pays the same in
sort form). 8-byte xxhash64 keys keep the exchange narrow (default);
``hasher="md5"`` is bit-identical cross-engine for oracle verification.
Hash collisions (~2^-64 per pair) can only over-remove, never
under-remove; Lee et al. accept the same trade in their Bloom variant.
A hot span (boilerplate occurring millions of times) skews step 2's
count; AQE skew handling splits it, and the keeper rule stays correct
because min() is order-insensitive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import spread_small_input


def _span_hash(joined: Column, hasher: str) -> Column:
    if hasher == "xxhash64":
        return F.xxhash64(joined)
    if hasher == "md5":
        return F.md5(joined)
    raise ValueError("hasher must be 'xxhash64' or 'md5'")


def span_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, pos, h): every k-token window of every doc. Map-only.

    The input is spread first when the plan shows it is small (see
    spread_small_input; decided while planning, no job runs): the per-doc
    tokenize + k-window hash explode is this module's costliest map
    work and runs BEFORE the span-hash exchange, i.e. at the scan's
    parallelism — a single-row-group corpus runs it serially otherwise
    (measured at sf0.1: pipe_substring_dup 3.0 -> 1.0 s, 4-0 paired
    rounds, output bit-identical; every downstream rule is
    order-insensitive — min(struct) keeper, pos-ordered windows).
    No-op at production scale."""
    docs = spread_small_input(docs)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    spans = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: _span_hash(F.concat_ws(" ", F.slice(toks, i + 1, k)), hasher),
    )
    return (
        docs.filter(F.size(toks) >= k)
        .select(F.col(id_col), F.posexplode(spans).alias("pos", "h"))
        .select(id_col, F.col("pos").cast("long").alias("pos"), "h")
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Span occurrences whose window repeats corpus-wide.

    Adds ``n_occurrences`` (total corpus occurrences of the span) and
    ``is_keeper`` (this occurrence is the canonical first — smallest
    (id, pos)); stripping removes every non-keeper occurrence. One
    shuffle on the span hash.
    """
    spans = span_index(docs, text_col, id_col, k, hasher)
    w = Window.partitionBy("h")
    occ = F.struct(F.col(id_col), F.col("pos"))
    return (
        spans.withColumn("n_occurrences", F.count("*").over(w))
        .withColumn("is_keeper", occ == F.min(occ).over(w))
        .filter(F.col("n_occurrences") > 1)
    )


def duplicate_regions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Maximal duplicated token regions to strip, per doc.

    Overlapping/adjacent non-keeper spans merge into ``[start, end]``
    token-index regions (inclusive): a span at pos covers
    [pos, pos+k-1], and spans whose coverage touches chain into one
    region.
    """
    dup = duplicate_spans(docs, text_col, id_col, k, hasher).filter(
        ~F.col("is_keeper")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    # new region when this span starts beyond the furthest end so far
    prev_max_end = F.max(F.col("pos") + k - 1).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "__new", F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1).otherwise(0)
    ).withColumn(
        "region",
        F.sum("__new").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return flagged.groupBy(id_col, "region").agg(
        F.min("pos").alias("start"),
        (F.max("pos") + k - 1).alias("end"),
        F.count("*").alias("n_spans"),
    )


def strip_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Rebuild each doc's text with all-but-first span occurrences removed.

    Canonical occurrences (and docs with no duplicated spans) keep their
    text; removal drops the covered token indices via an indexed
    higher-order filter — no Python in the path.
    """
    regions = (
        duplicate_regions(docs, text_col, id_col, k, hasher)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("start", "end")).alias("__rm"))
    )
    out = docs.join(regions, id_col, "left")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    indexed = F.transform(toks, lambda x, i: F.struct(x.alias("w"), i.alias("i")))
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("__rm"),
            lambda r: (s["i"] >= r["start"]) & (s["i"] <= r["end"]),
        ),
    )
    new_text = F.when(
        F.col("__rm").isNull(), F.col(text_col)
    ).otherwise(F.concat_ws(" ", F.transform(kept, lambda s: s["w"])))
    return out.withColumn(text_col, new_text).drop("__rm")
