"""Planted curation corpus, its closed-form survivor model, and the
12-stage curation chain the ``curation_chain`` workload times.

Corpus (generated in Spark from ``spark.range``): doc ids ``[base,
base + n)``, per 10-doc cell with first id b:

- ids b..b+7: unique texts of 30-69 tokens ``w<v>`` (v < 30,000), drawn
  from xxhash64 of the doc's own id;
- id b+8: an exact copy of b's text;
- id b+9: b's text plus one unique tail token ``t<id>``.

The seed moves ``base`` by a multiple of 3,880, the lcm of the 10-doc
cell, the 40-doc source domain and the 97-doc eval stride, so every seed
has the same cell/domain/eval structure while the texts, lengths and
sampling hashes change. ``model(base, n)`` mirrors the generator
arithmetic in numpy and predicts every stage's survivor count.
"""

from __future__ import annotations

import hashlib

import numpy as np

VOCAB = 30_000
DOMAIN = 40  # docs per source domain
EVAL_STRIDE = 97
BASE_STEP = 3_880  # lcm(10, DOMAIN, EVAL_STRIDE)

# the operator calls of the chain, in order; each is one traced span
STAGES = (
    "quality_repetition",
    "score_linear",
    "redact_pii",
    "decontaminate",
    "strip_duplicate_spans",
    "minhash_signature",
    "lsh_star_edges",
    "canonical_docs",
    "domain_cap",
    "hash_sample",
    "chunk_documents",
    "deterministic_shuffle",
    "token_pack",
)


def base_for_seed(seed: int) -> int:
    return BASE_STEP * (seed % 1000)


def generate(spark, path: str, base: int, n: int) -> None:
    from pyspark.sql import functions as F

    r = spark.range(base, base + n).withColumnRenamed("id", "i")
    pos = F.pmod(F.col("i"), F.lit(10))
    seed = F.when(pos >= 8, F.col("i") - pos).otherwise(F.col("i"))
    n_words = (F.pmod(F.xxhash64(seed, F.lit(1)), F.lit(40)) + F.lit(30)).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.concat(F.lit("w"), F.pmod(F.xxhash64(seed, j, F.lit(2)), F.lit(VOCAB))),
    )
    text = F.concat_ws(" ", words)
    text = F.when(pos == 9, F.concat(text, F.lit(" t"), F.col("i").cast("string"))).otherwise(
        text
    )
    r.select(F.col("i").alias("doc_id"), text.alias("text")).write.mode("overwrite").parquet(
        path
    )


# numpy twins of Spark's XXH64 hashLong / hashInt (Spark's xxhash64 seed
# is 42; chained arguments reseed with the previous hash)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _avalanche(h):
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def xxh64_long(value_u64, seed_u64):
    with np.errstate(over="ignore"):
        h = seed_u64 + _P5 + np.uint64(8)
        h ^= _rotl(value_u64 * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        return _avalanche(h)


def xxh64_int(value_u32: int, seed_u64):
    with np.errstate(over="ignore"):
        h = seed_u64 + _P5 + np.uint64(4)
        h ^= np.uint64(value_u32 & 0xFFFFFFFF) * _P1
        h = _rotl(h, 23) * _P2 + _P3
        return _avalanche(h)


def model(base: int, n: int) -> dict[str, int]:
    """Closed-form survivor counts of every chain stage on the corpus
    ``[base, base + n)``.

    - quality/repetition and score gates pass every doc (plain alnum
      tokens; the demo weights keep every sigmoid score above 0.2);
    - PII redaction is the identity;
    - decontamination drops, per eval doc e (id % 97 == 0), the whole
      {b, b+8, b+9} trio when e is one of them, else just e;
    - span stripping (k=10) keeps counts, empties the surviving b+8 rows
      and cuts b+9 rows to their one tail token;
    - the empties share one minhash signature, so dedup keeps only the
      smallest of them;
    - domain cap keeps 20 per 40-id domain by (n_chars desc, id asc);
      hash_sample keeps md5(id)[:4] < '8000'; chunking makes
      1 + (tokens - 1) // 56 chunks per non-empty doc.
    """
    assert base % BASE_STEP == 0 and n % DOMAIN == 0
    ids = np.arange(base, base + n, dtype=np.int64)
    pos = ids % 10
    seed = np.where(pos >= 8, ids - pos, ids)
    h_seed = xxh64_long(seed.view(np.uint64), np.uint64(42))
    nw = np.mod(xxh64_int(1, h_seed).view(np.int64), 40) + 30
    n_tok = np.where(pos == 9, nw + 1, nw)

    n_chars = np.zeros(n, dtype=np.int64)
    for j in range(1, int(nw.max()) + 1):
        v = np.mod(xxh64_int(2, xxh64_int(j, h_seed)).view(np.int64), VOCAB)
        digits = np.select([v < 10, v < 100, v < 1000, v < 10000], [1, 2, 3, 4], 5)
        n_chars += np.where(nw >= j, 1 + digits, 0)
    n_chars += nw - 1
    id_digits = np.char.str_len(ids.astype(str))
    n_chars = np.where(pos == 9, n_chars + 2 + id_digits, n_chars)

    dropped = np.zeros(n, dtype=bool)
    evals = ids[ids % EVAL_STRIDE == 0]
    ep = evals % 10
    trio = (evals[(ep == 0) | (ep >= 8)] // 10) * 10 - base
    for off in (0, 8, 9):
        dropped[trio + off] = True
    dropped[evals[(ep >= 1) & (ep <= 7)] - base] = True
    surv = ~dropped

    tok = n_tok.copy()
    tok[pos == 8] = 0
    tok[pos == 9] = 1

    kept = surv.copy()
    empties = np.flatnonzero(surv & (pos == 8))
    if empties.size:
        kept[empties[1:]] = False

    sid = ids[kept]
    order = np.lexsort((sid, -n_chars[kept], sid // DOMAIN))
    s = sid[order]
    dom = s // DOMAIN
    starts = np.r_[0, np.flatnonzero(np.diff(dom)) + 1]
    rank = np.arange(s.size) - np.repeat(starts, np.diff(np.r_[starts, s.size]))
    capped = np.sort(s[rank < 20])

    sampled = np.array(
        [i for i in capped.tolist() if hashlib.md5(str(i).encode()).hexdigest()[:4] < "8000"],
        dtype=np.int64,
    )
    t = tok[sampled - base]
    chunks = np.where(t > 0, 1 + (np.maximum(t, 1) - 1) // 56, 0)
    return {
        "gated": n,
        "scored": n,
        "pii_rewrites": 0,
        "decontam": int(surv.sum()),
        "strip_empty": int((surv & (pos == 8)).sum()),
        "strip_single": int((surv & (pos == 9)).sum()),
        "canonical": int(kept.sum()),
        "capped": int(capped.size),
        "sampled": int(sampled.size),
        "packed": int(chunks.sum()),
    }


def load(spark, path: str):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .withColumn("source", F.concat(F.lit("s"), (F.col("doc_id") / DOMAIN).cast("long")))
        .withColumn("n_chars", F.length("text"))
    )


def chain(docs, call, upto: str | None = None) -> dict:
    """The curation chain over ``docs``; ``call(stage, fn, *args, **kw)``
    runs each operator call (the workload wraps it in a span and a job
    group). Returns the stage-boundary frames; ``upto="redact_pii"``
    stops after the map-only head."""
    from pyspark.sql import functions as F

    from datafusion_python_spark.operators._util import spread_small_input
    from datafusion_python_spark.operators.chunking import chunk_documents
    from datafusion_python_spark.operators.cluster import canonical_docs
    from datafusion_python_spark.operators.decontaminate import decontaminate
    from datafusion_python_spark.operators.dedup import lsh_star_edges, minhash_signature
    from datafusion_python_spark.operators.sampling import (
        deterministic_shuffle,
        domain_cap,
        hash_sample,
        token_pack,
    )
    from datafusion_python_spark.operators.scoring import demo_weights, score_linear
    from datafusion_python_spark.operators.substring import strip_duplicate_spans
    from datafusion_python_spark.operators.text import (
        quality_features,
        redact_pii,
        repetition_features,
    )

    docs = spread_small_input(docs)
    gated = (
        call("quality_repetition", lambda d: repetition_features(quality_features(d)), docs)
        .filter((F.col("n_words") >= 5) & (F.col("punct_ratio") < 0.3))
        .filter(F.col("dup_2gram_frac") < 0.9)
    )
    scored = call(
        "score_linear", score_linear, gated, "text", demo_weights(64), hasher="xxhash64"
    ).filter(F.col("score") > 0.2)
    clean = (
        call("redact_pii", redact_pii, scored, count=False)
        .drop("text")
        .withColumnRenamed("text_redacted", "text")
    )
    if upto == "redact_pii":
        return {"gated": gated, "scored": scored, "clean": clean}
    eval_df = docs.filter(F.col("doc_id") % EVAL_STRIDE == 0)
    decon = call("decontaminate", decontaminate, clean, eval_df, n=8, hash_grams=True)
    stripped = call("strip_duplicate_spans", strip_duplicate_spans, decon, k=10, hasher="xxhash64")
    sig = call("minhash_signature", minhash_signature, stripped, "text", num_hashes=32, shingle_k=3)
    pairs = call("lsh_star_edges", lsh_star_edges, sig, "doc_id", num_bands=8)
    deduped = call("canonical_docs", canonical_docs, stripped, pairs)
    capped = call("domain_cap", domain_cap, deduped, "source", 20)
    sampled = call("hash_sample", hash_sample, capped, "doc_id", 0.5)
    chunks = call(
        "chunk_documents", chunk_documents, sampled, "doc_id", "text", chunk_tokens=64, overlap=8
    ).withColumn("sample_id", F.concat_ws("#", F.col("doc_id"), F.col("chunk_id")))
    shuffled = call(
        "deterministic_shuffle", deterministic_shuffle, chunks, "sample_id", salt="epoch0",
        keep_key=True,
    )
    packed = call(
        "token_pack",
        token_pack,
        shuffled.withColumnRenamed("chunk_tokens", "tokens"),
        "tokens",
        2048,
        group_col="source",
        id_col="sample_id",
    ).select("sample_id", "source", "tokens", "pack_bin", "shuffle_key")
    return {
        "gated": gated,
        "scored": scored,
        "clean": clean,
        "decontam": decon,
        "stripped": stripped,
        "deduped": deduped,
        "capped": capped,
        "sampled": sampled,
        "packed": packed,
    }


def stage_counts(stages, only=None) -> dict[str, int]:
    """Per-stage counts in ``model``'s keys, or just the ``only`` ones
    (extra jobs; run outside the timed passes)."""
    from pyspark.sql import functions as F

    def tokens():
        return F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""))

    counts = {
        "gated": lambda: stages["gated"].count(),
        "scored": lambda: stages["scored"].count(),
        "pii_rewrites": lambda: stages["clean"].filter(F.col("text").contains("[")).count(),
        "decontam": lambda: stages["decontam"].count(),
        "strip_empty": lambda: stages["stripped"].filter(tokens() == 0).count(),
        "strip_single": lambda: stages["stripped"].filter(tokens() == 1).count(),
        "canonical": lambda: stages["deduped"].count(),
        "capped": lambda: stages["capped"].count(),
        "sampled": lambda: stages["sampled"].count(),
        "packed": lambda: stages["packed"].count(),
    }
    return {k: f() for k, f in counts.items() if only is None or k in only}

