"""XL corpus scale evidence: the flagship curation operators at sizes
far beyond the PIPESCALE replicas, with PLANTED ground truth instead of
a DuckDB oracle (the per-op driver gates already certify value-level
correctness at sf0.01; this artifact certifies behavior-at-size).

The corpus is generated IN SPARK (xxhash64-mixed spark.range — fully
distributed, deterministic, no driver materialization, same scheme as
tools/dbbench.py). Per 10-row cell with base row b:

  rows b..b+7   unique texts: 30-69 tokens drawn from a 30k vocab,
                seeded by the row's own id
  row b+8       EXACT copy of row b's text
  row b+9       NEAR copy: row b's text + one globally unique tail
                token ("t<id>") -> word-shingle Jaccard m/(m+1) with
                m >= 30 distinct words, i.e. >= 0.96 — always over the
                0.8 near-dup threshold

Known truth per cell: 1 exact-dup group of 3 texts sharing a prefix
(b == b+8; b+9 appends one token), 3 true J>=0.8 pairs
{(b,b+8) J=1, (b,b+9), (b+8,b+9)}. Corpus-wide: survivors after exact
dedup = DuckDB's distinct-text count (expected ~9N/10 up to hash-seed
coincidences), planted near-dup pairs = 3N/10. MinHash-LSH recall at
J>=0.96 with 8 bands x 4 rows is 1-(1-J^4)^8 >= 1-3e-8, so planted
recall must measure ~1.0 and every emitted pair is exact-verified by
construction (precision 1.0).

simhash_near_dups is measured at the SMALL size only: its 16-bit
block-LSH admits ~N^2 * 4 / 2^16 random candidate collisions (at 1e7
docs that is ~6.1e9 candidate pairs from block coincidences alone —
quadratic in N), so the honest 1e7+ path for hamming-ball search is
either wider blocks (more bits per block => fewer coincidences but
lower hamming guarantee) or the MinHash-LSH operator above; the
arithmetic is recorded in PIPESCALE_XL.md.

Usage: python tools/pipescale_xl.py [n ...] [--fresh]
       (default sizes: 1250000 10000000 — an 8x ratio for alpha)
Writes PIPESCALE_XL.md and prints one JSON line per size.
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

WORK = "/tmp/pipescale_xl"
VOCAB = 30_000


def build(spark, n: int) -> str:
    out = f"{WORK}/n{n}"
    if os.path.exists(f"{out}/_DONE"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    r = spark.range(n).withColumnRenamed("id", "i")
    pos = F.pmod(F.col("i"), F.lit(10))
    seed = F.when(pos >= 8, F.col("i") - pos).otherwise(F.col("i"))
    n_words = (F.pmod(F.xxhash64(seed, F.lit(1)), F.lit(40)) + F.lit(30)).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(seed, j, F.lit(2)), F.lit(VOCAB))
        ),
    )
    text = F.concat_ws(" ", words)
    text = F.when(
        pos == 9, F.concat(text, F.lit(" t"), F.col("i").cast("string"))
    ).otherwise(text)
    r.select(F.col("i").alias("doc_id"), text.alias("text")).write.mode(
        "overwrite"
    ).parquet(f"{out}/documents.parquet")
    open(f"{out}/_DONE", "w").close()
    return out


def _timed(df, warm: bool = True) -> tuple[float, int]:
    # one untimed warm execution first (as dbbench.py does) so the first
    # operator at a size doesn't absorb JVM/codegen/scan-cache warmup —
    # the r9 artifact's exact_dedup alpha of -0.08 (10M measured FASTER
    # than 1.25M) was that warmup landing on the small size's first op
    if warm:
        df.write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    sec = time.perf_counter() - t0
    return sec, df.count()


def _duck_distinct(d: str) -> int:
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='40GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    return con.execute(
        "SELECT count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))"
        f" FROM read_parquet('{d}/documents.parquet/*.parquet')"
    ).fetchone()[0]


def run_size(spark, n: int) -> dict:
    from datafusion_python_spark.operators.dedup import (
        exact_dedup,
        near_dup_pairs_lsh,
        simhash,
        simhash_near_dups,
    )
    from datafusion_python_spark.operators.text import (
        bpe_ish_token_count,
        language_id,
        quality_features,
    )

    d = build(spark, n)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    res: dict[str, dict] = {}

    # --- exact dedup: survivors must equal DuckDB's distinct-text count
    sec, rows = _timed(exact_dedup(docs, "text", "doc_id"))
    expect = _duck_distinct(d)
    res["exact_dedup"] = {
        "sec": round(sec, 2),
        "out_rows": rows,
        "verify": f"survivors == duckdb distinct ({expect})",
        "ok": rows == expect,
    }

    # --- minhash-LSH near-dup pairs: planted recall + exact precision
    pairs = near_dup_pairs_lsh(
        docs, "doc_id", "text", threshold=0.8, num_hashes=32, num_bands=8,
        shingle_k=1, hasher="xxhash64",
    )
    sec, rows = _timed(pairs)
    cell = lambda c: (F.col(c) / 10).cast("bigint")  # noqa: E731
    planted = pairs.filter(
        (cell("id_a") == cell("id_b"))
        & F.pmod(F.col("id_a"), F.lit(10)).isin(0, 8, 9)
        & F.pmod(F.col("id_b"), F.lit(10)).isin(0, 8, 9)
    ).count()
    expected = 3 * (n // 10)
    recall = planted / expected
    res["minhash_lsh_pairs"] = {
        "sec": round(sec, 2),
        "out_rows": rows,
        "verify": f"planted recall {planted}/{expected} = {recall:.6f}, "
        f"{rows - planted} extra pairs (all exact-verified J>=0.8)",
        "ok": recall >= 0.995,
    }

    # --- simhash hamming-ball pairs: exact-dup pairs (hamming 0) must
    # all surface; block-LSH candidate volume caps this op at ~1e6 docs
    # (see module docstring), so skip above that and record why.
    if n <= 2_000_000:
        sig = simhash(docs, "text", hasher="xxhash64")
        sh_pairs = simhash_near_dups(sig, "doc_id", max_hamming=8, bits=64)
        sec, rows = _timed(sh_pairs)
        exact_found = sh_pairs.filter(
            (cell("id_a") == cell("id_b"))
            & (F.pmod(F.col("id_a"), F.lit(10)) == 0)
            & (F.pmod(F.col("id_b"), F.lit(10)) == 8)
        ).count()
        res["simhash_pairs"] = {
            "sec": round(sec, 2),
            "out_rows": rows,
            "verify": f"exact-dup pairs (hamming 0) {exact_found}/{n // 10}",
            "ok": exact_found == n // 10,
        }

    # --- map-only text stats: quality + langid + tokens in ONE pass
    stats = language_id(quality_features(docs)).withColumn(
        "n_tokens", bpe_ish_token_count(F.col("text"))
    )
    sec, rows = _timed(stats)
    res["text_stats"] = {
        "sec": round(sec, 2),
        "out_rows": rows,
        "verify": f"rows == corpus ({n})",
        "ok": rows == n,
    }
    return res


DIM = 64


def build_emb(spark, n: int) -> str:
    """N embedding rows, dim 64, uniform[-1,1] entries; per 4-row cell
    with base b, row b+3 is an EXACT copy of row b's vector — so
    SemDeDup survivors are exactly 3N/4 (identical vectors always share
    an argmax cell and have cosine 1.0; at threshold 0.9 a false random
    dup needs a ~7-sigma cosine, expected count ≪ 1 corpus-wide)."""
    out = f"{WORK}/emb{n}"
    if os.path.exists(f"{out}/_DONE"):
        return out
    shutil.rmtree(out, ignore_errors=True)
    r = spark.range(n).withColumnRenamed("id", "i")
    seed = F.when(F.pmod(F.col("i"), F.lit(4)) == 3, F.col("i") - F.lit(3)).otherwise(
        F.col("i")
    )
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: (
            (F.pmod(F.xxhash64(seed, j, F.lit(7)), F.lit(2_000_001)) - F.lit(1_000_000))
            / F.lit(1_000_000.0)
        ).cast("float"),
    )
    r.select(F.col("i").alias("vec_id"), vec.alias("embedding")).write.mode(
        "overwrite"
    ).parquet(f"{out}/embeddings.parquet")
    open(f"{out}/_DONE", "w").close()
    return out


def run_emb_size(spark, n: int) -> dict:
    from datafusion_python_spark.operators.semdedup import semantic_dedup
    from datafusion_python_spark.operators.similarity import cosine_topk, ivf_ann

    d = build_emb(spark, n)
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    n_clusters = max(64, int(math.sqrt(n)))
    res: dict[str, dict] = {}

    # --- SemDeDup (fused Arrow path): survivors must be exactly 3N/4
    sec, rows = _timed(
        semantic_dedup(emb, n_clusters=n_clusters, threshold=0.9, arrow=True)
    )
    res["semantic_dedup_arrow"] = {
        "sec": round(sec, 2),
        "out_rows": rows,
        "verify": f"survivors == 3N/4 ({3 * n // 4}), k={n_clusters} clusters",
        "ok": rows == 3 * n // 4,
    }

    # --- brute-force cosine top-k: the planted copy pair must lead
    q = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    q = [float(v) for v in q]
    sec, _ = _timed(cosine_topk(emb, q, k=10))
    brute = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    res["cosine_topk"] = {
        "sec": round(sec, 2),
        "out_rows": 10,
        "verify": f"planted copies {{0,3}} in top-10: {sorted(brute[:2])}",
        "ok": {0, 3} <= set(brute),
    }

    # --- IVF ANN: probing ~2.5% of cells must still surface the planted
    # pair (the query IS their vector, so their cell ranks first)
    n_probe = max(2, n_clusters // 40)
    sec, _ = _timed(ivf_ann(emb, q, n_list=n_clusters, n_probe=n_probe, k=10))
    ivf_ids = [
        r["vec_id"]
        for r in ivf_ann(emb, q, n_list=n_clusters, n_probe=n_probe, k=10).collect()
    ]
    recall = len(set(ivf_ids) & set(brute)) / 10
    res["ivf_ann"] = {
        "sec": round(sec, 2),
        "out_rows": 10,
        "verify": f"planted {{0,3}} found, recall@10 vs brute = {recall:.2f} "
        f"(n_probe {n_probe}/{n_clusters} cells — random-corpus tail recall "
        "is the documented IVF trade)",
        "ok": {0, 3} <= set(ivf_ids),
    }
    return res


def _curation_main(sizes: list[int]) -> None:
    """--curation mode: run the chain cert and SURGICALLY update only
    the '## Curation chain' section of PIPESCALE_XL.md (never the
    committed op tables — the r10 partial-rewrite lesson)."""
    spark = get_spark("pipescale-xl")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for n in sizes:
        r = run_curation_size(spark, n, per_stage=(n <= 2_000_000))
        print(json.dumps({"metric": "pipescale_xl_curation", "n_docs": n, "res": r}),
              flush=True)
        rows.append((n, r))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PIPESCALE_XL.md")
    marker = "## Curation chain"
    lines = [
        marker + " (r12): pipe_curation_e2e's 12-stage composition, per-stage "
        "survivor counts pinned to the closed-form planted model",
        "",
        "Production hashers (xxhash64 / hashed grams); same stage sequence, "
        "thresholds and rewrite semantics as the sf gate (which certifies the "
        "md5 values against DuckDB at sf0.01). Model: tools/pipescale_xl.py "
        "`_curation_model` (numpy mirror of the generator arithmetic + the "
        "planted-cell interaction analysis; pytest-pinned at small n in "
        "tests/test_planted_xl.py). Per-stage counts checked at the small "
        "size; final packed count checked at every size. Wall time includes "
        "chain construction (the LSH-star banding job and the CC fixpoint "
        "execute eagerly by contract).",
        "",
        "| n docs | per-stage counts | final packed rows | all pinned | chain sec | docs/s |",
        "|---|---|---|---|---|---|",
    ]
    for n, r in rows:
        staged = ", ".join(
            f"{k}={v:,}" for k, v in r["measured"].items() if k != "packed"
        ) or "(final only)"
        lines.append(
            f"| {n:,} | {staged} | {r['measured']['packed']:,} "
            f"(model {r['model']['packed']:,}) | "
            f"{'PASS' if r['ok'] else '**FAIL: ' + '; '.join(r.get('mismatches', [])) + '**'} | "
            f"{r['sec']} | {r['docs_per_sec']:,} |"
        )
    lines.append("")
    block = "\n".join(lines)
    with open(path) as f:
        md = f.read()
    if marker in md:
        start = md.index(marker)
        nxt = md.find("\n## ", start + 1)
        md = md[:start] + block + (md[nxt + 1:] if nxt != -1 else "")
    else:
        md = md.rstrip("\n") + "\n\n" + block
    with open(path, "w") as f:
        f.write(md)
    print(f"updated {path} ({marker!r} section only)", flush=True)


def main() -> None:
    sizes = [1_250_000, 10_000_000]
    emb_sizes = [500_000, 4_000_000]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args:
        sizes = [int(a) for a in args]
        emb_sizes = []
    for a in sys.argv[1:]:
        if a.startswith("--emb="):
            emb_sizes = [int(x) for x in a.split("=", 1)[1].split(",") if x]
    if "--fresh" in sys.argv:
        shutil.rmtree(WORK, ignore_errors=True)
    if "--curation" in sys.argv:
        _curation_main(sizes)
        return
    spark = get_spark("pipescale-xl")
    spark.sparkContext.setLogLevel("ERROR")

    per: dict[int, dict] = {}
    for n in sizes:
        per[n] = run_size(spark, n)
        print(json.dumps({"metric": "pipescale_xl", "n_docs": n, "ops": per[n]}), flush=True)
    per_emb: dict[int, dict] = {}
    for n in emb_sizes:
        per_emb[n] = run_emb_size(spark, n)
        print(json.dumps({"metric": "pipescale_xl_emb", "n_vecs": n, "ops": per_emb[n]}), flush=True)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lo, hi = min(per), max(per)
    lines = [
        "# PIPESCALE_XL — curation operators at 1.25M and 10M documents, planted ground truth",
        "",
        "Corpus generated in Spark (xxhash64-mixed spark.range, ~300 B/doc "
        "of 30-69 synthetic tokens from a 30k vocab): per 10-row cell, row "
        "b+8 is an EXACT copy of row b and row b+9 a NEAR copy (one unique "
        "tail token, word-Jaccard >= 0.96) — so exact-dup survivors, true "
        "near-dup pairs (3 per cell), and hamming-0 simhash pairs are all "
        "known in closed form and every run is verified against them "
        "(tools/pipescale_xl.py; single timed run, noop sink, local[32]). "
        "This extends PIPESCALE's 320k-doc replica curves by ~30x with "
        "truth-checked outputs instead of unverified timings.",
        "",
    ]
    for n in sorted(per):
        lines += [
            f"## {n:,} documents",
            "",
            "| op | sec | docs/s | out rows | verification | ok |",
            "|---|---|---|---|---|---|",
        ]
        for op, r in per[n].items():
            lines.append(
                f"| {op} | {r['sec']} | {int(n / r['sec']):,} | "
                f"{r['out_rows']:,} | {r['verify']} | "
                f"{'PASS' if r['ok'] else '**FAIL**'} |"
            )
        lines.append("")
    if lo != hi:
        ratio = hi / lo
        lines += [
            f"## Scaling {lo:,} → {hi:,} docs (alpha = log-time-ratio / "
            f"log-{ratio:g}x; 1.0 = linear)",
            "",
            "| op | alpha |",
            "|---|---|",
        ]
        for op, r_lo in per[lo].items():
            r_hi = per[hi].get(op)
            if r_hi:
                a = math.log(r_hi["sec"] / r_lo["sec"]) / math.log(ratio)
                lines.append(f"| {op} | {a:.2f} |")
        lines.append("")
    for n in sorted(per_emb):
        lines += [
            f"## {n:,} embedding vectors (dim {DIM}, planted exact-copy per 4-row cell)",
            "",
            "| op | sec | vecs/s | out rows | verification | ok |",
            "|---|---|---|---|---|---|",
        ]
        for op, r in per_emb[n].items():
            lines.append(
                f"| {op} | {r['sec']} | {int(n / r['sec']):,} | "
                f"{r['out_rows']:,} | {r['verify']} | "
                f"{'PASS' if r['ok'] else '**FAIL**'} |"
            )
        lines.append("")
    if len(per_emb) >= 2:
        ns_e = sorted(per_emb)
        lo_e, hi_e = ns_e[0], ns_e[-1]
        ratio_e = hi_e / lo_e
        lines += [
            f"## Embedding scaling {lo_e:,} → {hi_e:,} vecs (alpha over {ratio_e:g}×)",
            "",
            "| op | alpha |",
            "|---|---|",
        ]
        for op, r_lo in per_emb[lo_e].items():
            r_hi = per_emb[hi_e].get(op)
            if r_hi:
                a = math.log(r_hi["sec"] / r_lo["sec"]) / math.log(ratio_e)
                lines.append(f"| {op} | {a:.2f} |")
        lines += [
            "",
            "SemDeDup's k grows with sqrt(N), so per-cell pair work is "
            "~N/k × N/k × k = N²/k = N·sqrt(N) per corpus — the "
            "theoretical alpha is 1.5 (the SemDeDup paper's trade), and "
            "a measured alpha near 1.0 means the quadratic tile term has "
            "not yet overtaken the linear scan/assignment/exchange floor "
            "at these sizes (round 10's collision-proof kernel placement "
            "and single-threaded worker BLAS removed the scheduling "
            "artifacts that previously inflated it); at fixed k the op "
            "is linear in N and at 100 TB k tracks corpus size the same "
            "way. IVF probe cost is n_probe/n_list of the corpus per "
            "query regardless of N.",
            "",
        ]
    lines += [
        "simhash_pairs stops at the small size by design: "
        "simhash_near_dups blocks the 64-bit signature into 4 x 16-bit "
        "keys, and RANDOM block coincidences alone contribute "
        "~N^2 * 4 / 2^16 candidate pairs — ~6.1e9 at 1e7 docs, quadratic "
        "in N. That is the honest ceiling of narrow-block hamming LSH, "
        "not an implementation defect; past ~1e6 docs the scale path for "
        "near-dup detection is minhash-LSH above (pair work tracks the "
        "true duplicate structure, never corpus^2) or wider simhash "
        "blocks traded against the hamming guarantee.",
        "",
    ]
    with open(os.path.join(root, "PIPESCALE_XL.md"), "w") as fh:
        fh.write("\n".join(lines))
    print("wrote PIPESCALE_XL.md")


# --------------------------------------------------------------------------
# Curation chain at XL size (r12, VERDICT r11 ask #3): the
# pipe_curation_e2e stage sequence on the planted corpus, with EVERY
# stage's survivor count pinned against a closed-form model.
#
# The model mirrors the generator arithmetic in numpy (the _xxh64_*
# twins are pytest-pinned bit-equal to Spark's xxhash64) plus the
# planted-cell interaction analysis:
#   - quality/repetition gates and the score gate pass ALL docs in
#     closed form: texts are 30-69 plain alnum tokens (punct_ratio = 0,
#     dup_2gram_frac ~ 0) and demo_weights lie in [-0.5, 0.5], so the
#     mean-weight sigmoid is >= sigmoid(-0.5) = 0.378 > 0.2 for every
#     doc;
#   - PII redaction is the identity on this corpus (asserted);
#   - decontamination drops, per eval doc e (doc_id % 97 == 0): its
#     whole {b, b+8, b+9} trio when e is one of them (they share every
#     8-gram of b), else just e — cross-cell 8-gram collisions are
#     ~2^-64-scale, the same stance the committed XL gates take;
#   - span-strip (k=10) leaves counts unchanged and rewrites surviving
#     pos-8 rows (exact copies: every window duplicates b's, keeper is
#     min(doc, pos) = b) to EMPTY text and pos-9 rows (b + unique tail)
#     to exactly the 1 tail token (windows 0..m-11 duplicate b's and
#     cover tokens 0..m-2); both asserted structurally;
#   - all surviving empties share one degenerate minhash signature, so
#     LSH-star + CC merge them into ONE cluster whose min id survives
#     canonical selection; single-token and unique random texts have no
#     collisions (banding FP ~2^-64-scale) — keepers = survivors -
#     (n_empty - 1);
#   - domain_cap/hash_sample/chunking/packing are mirrored exactly
#     (40-doc id-range domains ranked by original n_chars desc with id
#     tie-break; md5 hex-prefix slice; 64-token windows at stride 56).
#
# Hashers run in PRODUCTION mode (xxhash64 / hashed grams) rather than
# the gate's DuckDB-portable md5 — same stage structure, thresholds and
# rewrite semantics; the oracle gate already certifies the md5 values
# at sf0.01, this artifact certifies the composition's behavior AT SIZE.

CURATION_DOMAIN = 40  # docs per synthetic source domain (4 cells)


def _curation_model(n: int) -> dict:
    import hashlib

    import numpy as np

    from datafusion_python_spark.operators.dedup import _xxh64_int, _xxh64_long

    ids = np.arange(n, dtype=np.int64)
    pos = ids % 10
    seed = np.where(pos >= 8, ids - pos, ids)
    h_seed = _xxh64_long(seed.view(np.uint64), np.uint64(42))
    nw = np.mod(_xxh64_int(np.uint32(1), h_seed).view(np.int64), 40) + 30
    n_tok_orig = np.where(pos == 9, nw + 1, nw)

    # original text length: len("w" + str(v_j)) per word + spaces + the
    # pos-9 " t<id>" tail
    n_chars = np.zeros(n, dtype=np.int64)
    for j in range(1, int(nw.max()) + 1):
        hj = _xxh64_int(np.uint32(2), _xxh64_int(np.uint32(j), h_seed)).view(np.int64)
        v = np.mod(hj, VOCAB)
        nd = np.select([v < 10, v < 100, v < 1000, v < 10000], [1, 2, 3, 4], 5)
        n_chars += np.where(nw >= j, 1 + nd, 0)
    n_chars += nw - 1  # single spaces
    d_id = np.select([ids < 10**k for k in range(1, 9)], list(range(1, 9)), 9)
    n_chars = np.where(pos == 9, n_chars + 2 + d_id, n_chars)

    # decontamination
    dropped = np.zeros(n, dtype=bool)
    evals = ids[ids % 97 == 0]
    ep = evals % 10
    trio_base = (evals[(ep == 0) | (ep == 8) | (ep == 9)] // 10) * 10
    for off in (0, 8, 9):
        dropped[trio_base + off] = True
    dropped[evals[(ep >= 1) & (ep <= 7)]] = True
    surv = ~dropped

    # span strip: counts unchanged; post-strip token counts
    tok = n_tok_orig.copy()
    tok[pos == 8] = 0
    tok[pos == 9] = 1
    n_empty = int((surv & (pos == 8)).sum())
    n_single = int((surv & (pos == 9)).sum())

    # dedup: all empties form one cluster; min id is canonical
    surv2 = surv.copy()
    empt = ids[surv & (pos == 8)]
    if empt.size:
        surv2[empt] = False
        surv2[empt.min()] = True

    # domain cap: 20 per 40-id domain, by (n_chars desc, id asc)
    sid = ids[surv2]
    nch = n_chars[surv2]
    order = np.lexsort((sid, -nch, sid // CURATION_DOMAIN))
    s = sid[order]
    dom = s // CURATION_DOMAIN
    starts = np.r_[0, np.flatnonzero(np.diff(dom)) + 1]
    run_len = np.diff(np.r_[starts, s.size])
    rank = np.arange(s.size) - np.repeat(starts, run_len)
    capped = np.sort(s[rank < 20])

    # hash_sample 0.5: md5(str(id))[:4] < '8000'
    keep = np.fromiter(
        (hashlib.md5(str(int(i)).encode()).hexdigest()[:4] < "8000" for i in capped),
        bool,
        capped.size,
    )
    sampled = capped[keep]

    # chunking: windows at 1, 57, 113, ... -> 1 + (t-1)//56 chunks (0 for empty)
    t = tok[sampled]
    chunks = np.where(t > 0, 1 + (np.maximum(t, 1) - 1) // 56, 0)

    return {
        "gated": n,
        "scored": n,
        "decontam": int(surv.sum()),
        "stripped": int(surv.sum()),
        "strip_empty": n_empty,
        "strip_single": n_single,
        "canonical": int(surv2.sum()),
        "capped": int(capped.size),
        "sampled": int(sampled.size),
        "packed": int(chunks.sum()),
    }


def _curation_stages(spark, d: str):
    """pipe_curation_e2e's stage sequence over the XL corpus; returns
    the stage-boundary DataFrames (same operators, same thresholds,
    production hashers)."""
    from datafusion_python_spark.operators._util import spread_small_input
    from datafusion_python_spark.operators.chunking import chunk_documents
    from datafusion_python_spark.operators.cluster import canonical_docs
    from datafusion_python_spark.operators.decontaminate import decontaminate
    from datafusion_python_spark.operators.dedup import (
        lsh_star_edges,
        minhash_signature,
    )
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

    docs = (
        spark.read.parquet(f"{d}/documents.parquet")
        .withColumn(
            "source",
            F.concat(F.lit("s"), (F.col("doc_id") / CURATION_DOMAIN).cast("long")),
        )
        .withColumn("n_chars", F.length("text"))
    )
    docs = spread_small_input(docs)
    gated = (
        repetition_features(quality_features(docs))
        .filter((F.col("n_words") >= 5) & (F.col("punct_ratio") < 0.3))
        .filter(F.col("dup_2gram_frac") < 0.9)
    )
    scored = score_linear(gated, "text", demo_weights(64), hasher="xxhash64").filter(
        F.col("score") > 0.2
    )
    clean = (
        redact_pii(scored, count=False)
        .drop("text")
        .withColumnRenamed("text_redacted", "text")
    )
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    decon = decontaminate(clean, eval_df, n=8, hash_grams=True)
    stripped = strip_duplicate_spans(decon, k=10, hasher="xxhash64")
    sig = minhash_signature(stripped, "text", num_hashes=32, shingle_k=3)
    pairs = lsh_star_edges(sig, "doc_id", num_bands=8)
    deduped = canonical_docs(stripped, pairs)
    capped = domain_cap(deduped, "source", 20)
    sampled = hash_sample(capped, "doc_id", 0.5)
    chunks = chunk_documents(sampled, "doc_id", "text", chunk_tokens=64, overlap=8)
    chunks = chunks.withColumn(
        "sample_id", F.concat_ws("#", F.col("doc_id"), F.col("chunk_id"))
    )
    shuffled = deterministic_shuffle(chunks, "sample_id", salt="epoch0", keep_key=True)
    packed = token_pack(
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


def run_curation_size(spark, n: int, per_stage: bool = True) -> dict:
    """Run the chain at size n; pin per-stage counts (and the strip
    structure) against the closed-form model; time the full chain."""
    d = build(spark, n)
    model = _curation_model(n)
    stages = _curation_stages(spark, d)
    res: dict = {"model": model, "measured": {}, "ok": True}
    sc = spark.sparkContext

    def check(name: str, got: int, want: int):
        res["measured"][name] = got
        if got != want:
            res["ok"] = False
            res.setdefault("mismatches", []).append(f"{name}: got {got} want {want}")

    if per_stage:
        sc.setJobDescription(f"curation-xl n={n} stage counts")
        check("gated", stages["gated"].count(), model["gated"])
        check("scored", stages["scored"].count(), model["scored"])
        # PII redaction must be the identity here (plain alnum tokens)
        n_redacted = (
            stages["clean"].filter(F.col("text").contains("[")).count()
        )
        check("pii_rewrites", n_redacted, 0)
        check("decontam", stages["decontam"].count(), model["decontam"])
        strip = stages["stripped"]
        toks = F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
        )
        check("stripped", strip.count(), model["stripped"])
        check("strip_empty", strip.filter(toks == 0).count(), model["strip_empty"])
        check("strip_single", strip.filter(toks == 1).count(), model["strip_single"])
        check("canonical", stages["deduped"].count(), model["canonical"])
        check("capped", stages["capped"].count(), model["capped"])
        check("sampled", stages["sampled"].count(), model["sampled"])
    check("packed", stages["packed"].count(), model["packed"])
    # timed run: constructing the chain already executes the LSH-star
    # banding job and the whole CC fixpoint (eager-by-contract), so the
    # honest wall time REBUILDS the stages inside the timed region
    sc.setJobDescription(f"curation-xl n={n} timed chain")
    spark.catalog.clearCache()
    t0 = time.time()
    _curation_stages(spark, d)["packed"].write.format("noop").mode("overwrite").save()
    res["sec"] = round(time.time() - t0, 2)
    res["docs_per_sec"] = int(n / res["sec"])
    return res


if __name__ == "__main__":
    main()
