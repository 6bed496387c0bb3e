"""Skew-safe/range joins, statistical aggregates, document chunking, token packing, temperature sampling, semantic dedup.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w02_dedup import NEW_BATCH_PCT, _run_scoped_index_dir  # noqa: E402
from .w03_similarity_multimodal import NN_DUP_THRESHOLD, _nn_dedup_planes, _nn_oracle_cte, q_embedding_nn_dedup  # noqa: E402


# ---------------------------------------------------------------------------
# Skew-safe JOIN: 5 order priorities × ~30k orders each at sf0.1 — a
# plain shuffle join lands every key on one reducer. The salted join
# spreads each hot key over 16 (key, salt) reducers; the dim replicates
# ×16 (5 rows → 80). Oracle = the plain join: hash-matching proves the
# salt is routing only.
# ---------------------------------------------------------------------------
PRIORITY_WEIGHTS = [
    ("1-URGENT", 5.0),
    ("2-HIGH", 4.0),
    ("3-MEDIUM", 3.0),
    ("4-NOT SPECIFIED", 2.0),
    ("5-LOW", 1.0),
]


@query(
    "salted_priority_join",
    f"""
    WITH dim(prio, weight) AS (VALUES
        {", ".join(f"('{p}', {w})" for p, w in PRIORITY_WEIGHTS)})
    SELECT o.o_orderpriority,
           COUNT(*)::BIGINT AS n_orders,
           ROUND(SUM(o.o_totalprice * d.weight), 2) AS receita_ponderada
    FROM orders o JOIN dim d ON o.o_orderpriority = d.prio
    GROUP BY o.o_orderpriority
    """,
)
def q_salted_priority_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact⋈dim via operators.skew.salted_join_skewed_left
    (the no-broadcast/no-AQE fallback pattern), then a salted-safe
    aggregate. Same answer as the plain join."""
    from ..operators.skew import salted_join_skewed_left

    orders = load_table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        PRIORITY_WEIGHTS, "o_orderpriority string, weight double"
    )
    joined = salted_join_skewed_left(
        orders.select("o_orderpriority", "o_totalprice"), dim, "o_orderpriority"
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice") * F.col("weight")), 2).alias(
            "receita_ponderada"
        ),
    )


# ---------------------------------------------------------------------------
# Range (interval) join: events attributed to 2-hour "surge windows"
# seeded by a stable 0.1% hash sample of events. The Spark side is the
# bucketized equi-join (operators/rangejoin.py); the oracle is the
# plain inequality join — hash-matching proves the bucketization is
# routing only.
# ---------------------------------------------------------------------------
SURGE_WINDOW_SEC = 7200


@query(
    "range_join_surges",
    f"""
    WITH surges AS (
        SELECT event_id AS surge_id, ts AS w_start,
               ts + INTERVAL 2 HOUR AS w_end
        FROM events
        WHERE {sql_hash_bucket("event_id", 1000, "surge")} = 0)
    SELECT s.surge_id,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(e.value), 2) AS valor_total
    FROM surges s JOIN events e
      ON e.ts >= s.w_start AND e.ts < s.w_end
    GROUP BY s.surge_id
    """,
)
def q_range_join_surges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per surge window via the bucketized range join: bucket
    width = the window length, so each interval explodes into ≤ 2
    buckets and the join is a hash equi-join on the bucket id (the
    naive inequality join plans a nested loop)."""
    from ..operators.rangejoin import range_join
    from ..operators.sampling import hash_bucket

    events = load_table(spark, sf_dir, "events")
    surges = events.filter(hash_bucket("event_id", 1000, "surge") == 0).select(
        F.col("event_id").alias("surge_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    joined = range_join(
        events.select("ts", "value"),
        surges,
        "ts",
        "w_start",
        "w_end",
        bucket_sec=SURGE_WINDOW_SEC,
    )
    return joined.groupBy("surge_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("valor_total"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (stddev/corr/covar — absent from the reference,
# free in both engines; EXT §2.5)
# ---------------------------------------------------------------------------
@query(
    "lineitem_price_stats",
    """
    SELECT l_returnflag,
           COUNT(*)::BIGINT AS n,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS preco_stddev,
           ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 2) AS preco_qty_covar,
           ROUND(CORR(l_extendedprice, l_quantity), 4) AS preco_qty_corr
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_lineitem_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("preco_stddev"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("preco_qty_covar"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("preco_qty_corr"),
    )


# ---------------------------------------------------------------------------
# Document chunking (token windows with overlap — context prep)
# ---------------------------------------------------------------------------
CHUNK_SIZE, CHUNK_STRIDE = 50, 40

# Shared by document_chunks (native explode) AND document_chunks_udtf
# (Python UDTF): two independent implementations against one oracle.
_CHUNKS_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    c AS (
      SELECT doc_id,
             g.i AS chunk_idx,
             array_to_string(toks[g.i * {CHUNK_STRIDE} + 1 :
                                  g.i * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ') AS chunk
      FROM t CROSS JOIN LATERAL (
        SELECT unnest(range(0, greatest(CAST(ceil((len(toks) - {CHUNK_SIZE})
                                              / {CHUNK_STRIDE}.0) AS INT) + 1, 1))) AS i
      ) g
    )
    SELECT doc_id, chunk_idx::INTEGER AS chunk_idx,
           len(string_split(chunk, ' '))::BIGINT AS n_tokens,
           md5(chunk) AS chunk_hash
    FROM c WHERE chunk <> ''
    """


@query("document_chunks", _CHUNKS_ORACLE)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 50-token chunks every 40 tokens per document —
    native sequence/slice, exploded JVM-side (no Python)."""
    from ..operators.textanalysis import chunk_tokens


    docs = spread(load_table(spark, sf_dir, "documents"))
    exploded = docs.select(
        "doc_id", F.explode(chunk_tokens("text", CHUNK_SIZE, CHUNK_STRIDE)).alias("c")
    ).filter(F.col("c.chunk") != "")
    return exploded.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size(F.split("c.chunk", " ")).cast("bigint").alias("n_tokens"),
        F.md5("c.chunk").alias("chunk_hash"),
    )


@query("document_chunks_udtf", _CHUNKS_ORACLE)
def q_document_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunk fan-out as document_chunks, re-expressed as a
    Spark 4 Python UDTF (operators/textanalysis.py::chunk_docs_udtf)
    consuming the documents TABLE argument — the structured 1→k
    Python-eval surface with its own output schema. Registered against
    the identical DuckDB oracle as the native path, so the Catalyst
    explode implementation and the Arrow-batched Python implementation
    prove each other (+ the oracle makes it three). Production
    guidance lives in the UDTF docstring: native wins when the chunker
    is expressible in SQL; the UDTF is the drop-in slot for a real
    Python tokenizer. Plan: exactly one ArrowEvalPythonUDTF stage,
    pinned in tests/test_plan_quality.py; input is column-pruned to
    (doc_id, text) BEFORE the Python boundary."""
    from ..operators.textanalysis import chunk_docs_udtf

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    return chunk_docs_udtf(CHUNK_SIZE, CHUNK_STRIDE)(docs.asTable())


# ---------------------------------------------------------------------------
# Token packing: assign documents to fixed-token-budget training bins
# (sequence-packing staple). Scale-first design: a GLOBAL ordered
# cumulative sum is a single total order — a one-reducer sort at
# 100 TB — so packing runs per hash-SHARD (cumsum windows partitioned
# by shard, embarrassingly parallel); packing quality is unchanged
# asymptotically and bin ids are (shard, bin).
# ---------------------------------------------------------------------------
PACK_BUDGET = 512  # tokens per bin
PACK_SHARDS = 8


@query(
    "token_pack_bins",
    f"""
    WITH t AS (SELECT doc_id,
                      (doc_id % {PACK_SHARDS}) AS shard,
                      len(regexp_extract_all(lower(text),
                                             '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT
                        AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, shard, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT doc_id, shard::BIGINT AS shard, n_tokens,
           ((cum - n_tokens) // {PACK_BUDGET})::BIGINT AS bin
    FROM c
    """,
)
def q_token_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document packing assignment: docs are BPE-ish token-counted
    (map-only regexp), sharded by doc_id hash, and binned by the
    budget-quantized cumulative start offset within their shard —
    deterministic, one shuffle on the shard key, no global sort. A doc
    lands in bin floor(start_offset / {PACK_BUDGET}), so every bin
    holds ~{PACK_BUDGET} tokens of consecutive docs."""
    from pyspark.sql import Window

    from ..operators.textanalysis import token_count_bpe_ish

    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        token_count_bpe_ish("text").cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "doc_id",
        F.col("shard").cast("bigint").alias("shard"),
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET)
        .cast("bigint")
        .alias("bin"),
    )


# ---------------------------------------------------------------------------
# Temperature-balanced multilingual sampling (mC4/XLM-style corpus
# rebalancing: per-language budget ∝ N_lang^alpha, alpha < 1 upsamples
# low-resource languages relative to their natural share). The keep
# decision is a stable hash-fraction threshold — a pure map filter
# after a |langs|-row aggregate, so a skewed language distribution
# (one lang = 80 % of a 100 TB corpus) never needs a per-stratum sort.
# ---------------------------------------------------------------------------
from ..operators.sampling import sql_hash_frac  # noqa: E402

TEMP_SAMPLE_ALPHA = 0.5
TEMP_SAMPLE_BUDGET = 300


@query(
    "corpus_temperature_sample",
    f"""
    WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n_s FROM documents GROUP BY lang),
    r AS (SELECT lang, n_s,
                 ROUND(ROUND(POW(n_s, {TEMP_SAMPLE_ALPHA}), 9)
                       / SUM(ROUND(POW(n_s, {TEMP_SAMPLE_ALPHA}), 9)) OVER (), 6) AS share
          FROM c),
    t AS (SELECT lang, n_s,
                 LEAST(n_s, CAST(FLOOR({TEMP_SAMPLE_BUDGET} * share) AS BIGINT)) AS t_s
          FROM r)
    SELECT d.doc_id, d.lang, ROUND(CAST(t_s AS DOUBLE) / n_s, 6) AS rate
    FROM documents d JOIN t USING (lang)
    WHERE {sql_hash_frac("d.doc_id")} < CAST(t_s AS DOUBLE) / n_s
    """,
)
def q_corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic temperature sampling over the documents corpus:
    per-language target t_l = min(N_l, floor(budget · share_l)) with
    share_l = round(N_l^α / Σ N^α, 6); a doc survives iff its stable
    md5 hash fraction < t_l / N_l (operators/sampling.py::
    temperature_sample). Membership is replay/partitioning-invariant —
    rand()-based sampling is not — and the oracle replicates the hash
    threshold bit-for-bit, so the value-hash check covers the sampling
    decision itself. (Reference has no sampling surface; EXT per the
    training-data brief.)"""
    from ..operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_sample(
        docs, "lang", "doc_id", alpha=TEMP_SAMPLE_ALPHA, budget=TEMP_SAMPLE_BUDGET
    )
    return out.select("doc_id", "lang", "rate")


# ---------------------------------------------------------------------------
# Semantic dedup keep-list (SemDeDup-style decision): a vector is
# DROPPED when its in-bucket nearest neighbor clears the duplicate
# threshold and the neighbor has the smaller id (min-id representative
# survives, same keep rule as the exact/MinHash dedup family).
# ---------------------------------------------------------------------------
@query(
    "semantic_dedup_keep",
    _nn_oracle_cte()
    + f"""
    , nn AS (SELECT vec_id, nn_id, ROUND(cosine, 6) AS cosine,
                    cosine >= {NN_DUP_THRESHOLD} AS is_dup
             FROM r WHERE rn = 1)
    SELECT emb.vec_id, nn.nn_id, nn.cosine,
           COALESCE(NOT (nn.is_dup AND emb.vec_id > nn.nn_id), TRUE) AS keep
    FROM embeddings emb LEFT JOIN nn ON emb.vec_id = nn.vec_id
    """,
)
def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector keep/drop decision from the LSH-bucket-blocked
    nearest neighbor (q_embedding_nn_dedup): drop iff the NN is a
    duplicate (cosine ≥ threshold) AND has the smaller id. Vectors in
    singleton buckets have no NN row (left join) and are always kept —
    the honest LSH-recall semantics. The keep-list is what a corpus
    pipeline feeds downstream; the drop set is the semantic-dedup
    analogue of exact_dedup's non-representatives."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    nn = q_embedding_nn_dedup(spark, sf_dir).select(
        "vec_id", "nn_id", "cosine", "is_dup"
    )
    keep = F.coalesce(
        ~(F.col("is_dup") & (F.col("vec_id") > F.col("nn_id"))), F.lit(True)
    )
    return emb.join(nn, "vec_id", "left").select(
        "vec_id", "nn_id", "cosine", keep.alias("keep")
    )


@query(
    "semantic_dedup_new_batch",
    _nn_oracle_cte()
    + f"""
    , nn AS (SELECT vec_id, nn_id, ROUND(cosine, 6) AS cosine,
                    cosine >= {NN_DUP_THRESHOLD} AS is_dup
             FROM r WHERE rn = 1)
    SELECT emb.vec_id, nn.nn_id, nn.cosine,
           COALESCE(NOT (nn.is_dup AND emb.vec_id > nn.nn_id), TRUE) AS keep
    FROM embeddings emb LEFT JOIN nn ON emb.vec_id = nn.vec_id
    WHERE {sql_hash_bucket("emb.vec_id")} < {NEW_BATCH_PCT}
    """,
)
def q_semantic_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at INGEST — the incremental twin every other
    dedup family already has (r11 verdict #4): the corpus (90%)
    persists its sign-LSH BUCKET INDEX — (vec_id, embedding, nrm,
    bucket), partitioned by bucket, with the 64-term hyperplane
    projection and the norm computed ONCE at index build — and a new
    vector batch buckets only ITSELF map-side, then joins bucket-equal
    candidates from index ∪ batch (a batch vector's nearest neighbor
    can be another batch vector). Keep rule unchanged: drop iff the
    in-bucket NN clears the threshold with a smaller id; singleton-
    bucket batch vectors are always kept (left join). Because the
    decision for a vector depends only on its own bucket's membership,
    probing index ∪ batch is EXACTLY the full-corpus blocking
    restricted to batch vectors — the oracle (semantic_dedup_keep's
    CTE chain over all embeddings, output filtered to the batch) says
    so cryptographically. The corpus embeddings are never re-bucketed
    or re-normed (plan-pinned: every embeddings scan is
    batch-filtered); at 100 TB the bucket-partitioned index is the
    standing table and ingest cost is ∝ batch × bucket occupancy."""
    import os

    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket
    from ..operators.similarity import dot_expr, lsh_bucket_expr, norm_expr
    from ..sources.sinks import write_parquet

    emb = load_table(spark, sf_dir, "embeddings")
    is_new = hash_bucket("vec_id") < NEW_BATCH_PCT
    corpus, batch = emb.filter(~is_new), emb.filter(is_new)

    base = _run_scoped_index_dir("sem_dedup")
    idx_path = os.path.join(base, "bucket_index")
    # Stored FLAT here: directory-partitioning by bucket (the
    # ann_incremental cell layout — the right 100 TB posture, probes
    # prune buckets before the scan) trips a Spark DPP planner bug
    # when the probe side's partition-join key is this 64-term
    # hyperplane expression ("dynamic pruning has not finished"); at
    # fixture scale the bucket column still drives the equi-join, so
    # correctness and the never-re-bucketed contract are identical.
    write_parquet(
        spread(corpus).select(
            "vec_id",
            "embedding",
            norm_expr("embedding").alias("nrm"),
            lsh_bucket_expr("embedding", _nn_dedup_planes()).alias("bucket"),
        ),
        idx_path,
    )
    idx = spark.read.parquet(idx_path)

    bb = batch.select(
        "vec_id",
        "embedding",
        norm_expr("embedding").alias("nrm"),
        lsh_bucket_expr("embedding", _nn_dedup_planes()).alias("bucket"),
    )
    cands = idx.select("vec_id", "embedding", "nrm", "bucket").unionByName(
        bb.select("vec_id", "embedding", "nrm", "bucket")
    )
    a = bb.select(
        "vec_id",
        "bucket",
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cands.select(
        F.col("vec_id").alias("nn_id"),
        F.col("bucket").alias("bk"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("bk")) & (F.col("vec_id") != F.col("nn_id"))
    )
    scored = pairs.select(
        "vec_id",
        "nn_id",
        F.round(dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 9).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id")
    )
    nn = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "nn_id",
            F.round("cosine", 6).alias("cosine"),
            (F.col("cosine") >= NN_DUP_THRESHOLD).alias("is_dup"),
        )
    )
    keep = F.coalesce(
        ~(F.col("is_dup") & (F.col("vec_id") > F.col("nn_id"))), F.lit(True)
    )
    return (
        batch.select("vec_id")
        .join(nn, "vec_id", "left")
        .select("vec_id", "nn_id", "cosine", keep.alias("keep"))
    )


