"""Beyond-parity operators for large-scale training-data pipelines.

Operators are built from Spark built-ins (hash functions, window/group
ops, higher-order functions) and scale horizontally. Where a per-row
fold would run as interpreted higher-order lambdas — the MinHash
family-min, the SimHash bit vote, and the embedding dot products behind
cosine top-k, IVF assignment and random projection — the operator runs
a vectorized numpy kernel over Arrow batches instead (``mapInArrow`` /
``applyInPandas``, map-only or one keyed shuffle). The multimodal
module uses Pandas-UDF plumbing for its codecs.
"""

from .dedup import (
    exact_dedup,
    incremental_dedup,
    minhash_signature,
    lsh_candidate_pairs,
    near_dup_pairs_lsh,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    simhash,
    simhash_near_dups,
)
from .similarity import (
    cosine_near_dup_pairs_arrow,
    cosine_similarity_col,
    cosine_topk,
    ivf_assign,
    lsh_bucket_ann,
)
from .text import (
    doc_fingerprint,
    language_id,
    quality_features,
    token_count,
)
from .chunking import chunk_documents
from .decontaminate import contamination_report, decontaminate
from .funnel import funnel, funnel_summary, retention_cohorts
from .fuzzy import fuzzy_join, fuzzy_self_pairs, qgrams
from .skew import salted_agg, salted_join
from .layout import bucketize, zorder_layout, zvalue
from .lm import perplexity, train_bigram_counts
from .projection import projection_signs, random_projection
from .quantize import dequantize, quantize_embeddings, reconstruction_rmse
from .ranking import bm25, doc_frequencies, doc_terms, tf_idf
from .sampling import (
    deterministic_shuffle,
    domain_cap,
    hash_sample,
    stratified_sample,
    token_pack,
)
from .gapfill import bucket_aggregate, gapfill
from .graph import pagerank, transition_edges
from .scoring import quality_filter, score_linear
from .sketches import distinct_rollup, hll_estimate, hll_merge, hll_partial
from .substring import (
    duplicate_regions,
    duplicate_spans,
    span_index,
    strip_duplicate_spans,
)
from .temporal import asof_join, range_join

__all__ = [
    "bucket_aggregate",
    "gapfill",
    "pagerank",
    "transition_edges",
    "duplicate_regions",
    "duplicate_spans",
    "span_index",
    "strip_duplicate_spans",
    "bm25",
    "bucketize",
    "chunk_documents",
    "funnel",
    "funnel_summary",
    "fuzzy_join",
    "fuzzy_self_pairs",
    "qgrams",
    "retention_cohorts",
    "salted_agg",
    "salted_join",
    "perplexity",
    "train_bigram_counts",
    "zorder_layout",
    "zvalue",
    "deterministic_shuffle",
    "distinct_rollup",
    "doc_frequencies",
    "doc_terms",
    "hll_estimate",
    "hll_merge",
    "hll_partial",
    "projection_signs",
    "random_projection",
    "tf_idf",
    "contamination_report",
    "decontaminate",
    "dequantize",
    "quantize_embeddings",
    "reconstruction_rmse",
    "domain_cap",
    "hash_sample",
    "stratified_sample",
    "token_pack",
    "quality_filter",
    "score_linear",
    "asof_join",
    "range_join",
    "exact_dedup",
    "incremental_dedup",
    "minhash_signature",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_prefix",
    "near_dup_pairs_lsh",
    "simhash",
    "simhash_near_dups",
    "cosine_near_dup_pairs_arrow",
    "cosine_similarity_col",
    "cosine_topk",
    "ivf_assign",
    "lsh_bucket_ann",
    "doc_fingerprint",
    "language_id",
    "quality_features",
    "token_count",
]
