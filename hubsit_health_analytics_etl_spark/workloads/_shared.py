"""Shared imports and corpus-wide constants for the workloads package.

Every per-family module star-imports this header so the split of the
former single-file EXT workload stays mechanical: same names in scope,
same constants, same operator imports.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import (
    BAND_MIX,
    BAND_ROWS,
    MINHASH_AB,
    MINHASH_BUCKET_CAP,
    MINHASH_PRIME,
    N_BANDS,
    N_MINHASH,
    SIMHASH_BANDS,
    SIMHASH_BUCKET_CAP,
    SIMHASH_HAMMING_MAX,
    exact_dedup,
    exact_dup_edges,
    minhash_candidates,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    simhash32,
    simhash_candidate_pairs,
)
from ..operators.concurrency import materialize
from ..operators.multimodal import documents_as_media, extract_features
from ..operators.similarity import (
    HYPERPLANES,
    brute_force_topk,
    lsh_bucket_topk,
    sql_lsh_bucket,
)
from ..operators.textanalysis import (
    LANG_STOPWORDS,
    STOPWORDS_ALL,
    lang_id,
    quality_features,
    quality_score,
    token_count_bpe_ish,
    tokens,
)
from ..sources.parquet import load_table, spread
from ..streaming.windows import session_agg, sliding_agg, tumbling_agg
from ..workload import PREPARES, query

JACCARD_THRESHOLD = 0.3
ANN_QUERY_LIMIT = 20  # vec_id < 20 are the query vectors
ANN_K = 5



__all__ = [
    "ANN_K",
    "ANN_QUERY_LIMIT",
    "BAND_MIX",
    "BAND_ROWS",
    "DataFrame",
    "F",
    "HYPERPLANES",
    "JACCARD_THRESHOLD",
    "LANG_STOPWORDS",
    "MINHASH_AB",
    "MINHASH_BUCKET_CAP",
    "MINHASH_PRIME",
    "N_BANDS",
    "N_MINHASH",
    "PREPARES",
    "SIMHASH_BANDS",
    "SIMHASH_BUCKET_CAP",
    "SIMHASH_HAMMING_MAX",
    "STOPWORDS_ALL",
    "SparkSession",
    "brute_force_topk",
    "documents_as_media",
    "exact_dedup",
    "exact_dup_edges",
    "extract_features",
    "lang_id",
    "load_table",
    "lsh_bucket_topk",
    "materialize",
    "minhash_candidates",
    "ngram_containment_pairs",
    "ngram_jaccard_pairs",
    "pd",
    "quality_features",
    "quality_score",
    "query",
    "session_agg",
    "simhash32",
    "simhash_candidate_pairs",
    "sliding_agg",
    "spread",
    "sql_lsh_bucket",
    "token_count_bpe_ish",
    "tokens",
    "tumbling_agg",
]
