"""Two-stage retrieval, IVF+PQ, trained PQ, embedding decontamination, leakage-safe split, snapshot diff CDC, versioned reads.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket, sql_hash_frac  # noqa: E402
from ..operators.similarity import EMBED_DIM as _EMBED_DIM, PQ_SUB_DIM as _PQ_SUB_DIM  # noqa: E402
from .w02_dedup import _minhash_pairs_ctes, _run_scoped_index_dir  # noqa: E402
from .w03_similarity_multimodal import _COS_SQL, _nn_dedup_planes  # noqa: E402
from .w05_clusters_ann import ANN_NPROBE  # noqa: E402
from .w07_cluster_maintenance import _pq_ctes  # noqa: E402


# ---------------------------------------------------------------------------
# Two-stage retrieval (retrieve -> rerank): the standard RAG/curation
# search shape. Stage 1 pulls a generous candidate set with cheap ANN;
# stage 2 re-scores candidates with an expensive model and keeps a
# short list. The model here is a DETERMINISTIC pseudo-scorer (stable
# md5 hash fraction of the pair) — the same stub posture as the
# multimodal decode: the real cross-encoder is a Pandas UDF over the
# candidate pairs (Arrow-batched, ~K·Q rows, the only Python stage),
# while everything measured here — bucketed retrieval, candidate
# cut, blend, re-rank — is the actual Spark plumbing, oracle-checked.
# ---------------------------------------------------------------------------
RERANK_CANDIDATES = 20
RERANK_K = 3
RERANK_BLEND = 0.7  # weight of the retrieval cosine vs the model score

# Shared by ann_two_stage_rerank (SQL-expression scorer) and
# ann_two_stage_rerank_udf (Arrow pandas-UDF scorer): both engines'
# model scores are the identical md5 fraction, so ONE oracle covers
# both — the UDF variant's hash match proves the Python path computes
# exactly what the SQL path does.
_TWO_STAGE_RERANK_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {sql_lsh_bucket("embedding")} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < {ANN_QUERY_LIMIT}),
    p AS (SELECT q.query_id, e.vec_id AS neighbor_id, ROUND({_COS_SQL}, 9) AS cosine
          FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
    r AS (SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rk1
          FROM p),
    cand AS (SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine
             FROM r WHERE rk1 <= {RERANK_CANDIDATES}),
    sc AS (SELECT query_id, neighbor_id, cosine,
                  ROUND({RERANK_BLEND} * cosine + {1 - RERANK_BLEND} *
                        {sql_hash_frac("query_id || ':' || neighbor_id")}, 9) AS score
           FROM cand),
    rr AS (SELECT query_id, neighbor_id, cosine, score,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
           FROM sc)
    SELECT query_id, neighbor_id, cosine, ROUND(score, 6) AS score,
           rank::BIGINT AS rank
    FROM rr WHERE rank <= {RERANK_K}
    """


def _two_stage_rerank(
    spark: SparkSession, sf_dir: str, model_score_fn
) -> DataFrame:
    """Shared two-stage body: stage-1 bucketed sign-LSH retrieval cuts
    to {RERANK_CANDIDATES} candidates per query, ``model_score_fn``
    maps the candidate frame to the model-score Column (SQL expression
    or pandas UDF — the hook point), stage-2 blends and keeps the top
    {RERANK_K}. The scorer always runs on the POST-cut frame: ~K·Q
    rows, never the corpus."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cand = lsh_bucket_topk(
        emb, RERANK_CANDIDATES, query_filter=F.col("vec_id") < ANN_QUERY_LIMIT
    ).select("query_id", "neighbor_id", "cosine")
    sc = cand.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.round(
            RERANK_BLEND * F.col("cosine")
            + (1 - RERANK_BLEND) * model_score_fn(cand),
            9,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RERANK_K)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.round("score", 6).alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query("ann_two_stage_rerank", _TWO_STAGE_RERANK_SQL)
def q_ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve {RERANK_CANDIDATES} candidates per query via bucketed
    sign-LSH, re-score with blend = 0.7·cosine + 0.3·model_score, keep
    the top {RERANK_K}. model_score here is the hash-fraction scorer as
    a JVM-side SQL expression — the zero-Python fast path when the
    model is expressible; ann_two_stage_rerank_udf runs the SAME scorer
    through the Arrow pandas-UDF hook a real cross-encoder uses."""
    from ..operators.sampling import hash_frac

    return _two_stage_rerank(
        spark,
        sf_dir,
        lambda cand: hash_frac("concat(query_id, ':', neighbor_id)"),
    )


@query("ann_two_stage_rerank_udf", _TWO_STAGE_RERANK_SQL)
def q_ann_two_stage_rerank_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage rerank with the model hook EXECUTED as a real
    Arrow-batched pandas UDF (operators/similarity.py::
    cross_encoder_hash_udf): candidate pairs cross the JVM→Python
    boundary in Arrow batches, are scored in pandas, and the blend /
    re-rank consume the returned column — the exact wiring a production
    cross-encoder uses, with a deterministic scorer so the SAME SQL
    oracle hash-checks the Python path bit-for-bit. The UDF sees only
    the post-cut candidate frame (~{RERANK_CANDIDATES}·|queries| rows;
    pinned by an accumulator bound in tests/test_plan_quality.py)."""
    from ..operators.similarity import cross_encoder_hash_udf

    scorer = cross_encoder_hash_udf()
    return _two_stage_rerank(
        spark, sf_dir, lambda cand: scorer(cand.query_id, cand.neighbor_id)
    )


# ---------------------------------------------------------------------------
# IVF+PQ — the canonical production ANN composite (FAISS IVFPQ shape):
# the coarse quantizer prunes to nprobe cells, PQ codes replace the
# floats inside each cell, ADC scores query subvectors against the
# codes. Cell pruning bounds candidates (≈ nprobe·N/C per query); PQ
# bounds memory (8 codes per vector). Both halves are the
# already-oracle-verified pieces; this query verifies their
# composition end-to-end.
# ---------------------------------------------------------------------------
@query(
    "ann_ivfpq_topk",
    _pq_ctes()
    + f"""
    , e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT e.label, t.i, ROUND(AVG(e.v[t.i]), 6) AS cval
             FROM e CROSS JOIN range(1, {_EMBED_DIM + 1}) t(i) GROUP BY e.label, t.i),
    cents AS (SELECT label AS cell, list(cval ORDER BY i) AS centroid
              FROM dims GROUP BY label),
    base AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    cellsc AS (SELECT b.vec_id, b.v, b.nrm, c.cell,
                      ROUND(list_dot_product(b.v, c.centroid)
                            / (b.nrm * sqrt(list_dot_product(c.centroid, c.centroid))), 9)
                        AS ccos
               FROM base b CROSS JOIN cents c),
    cellrk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY ccos DESC, cell) AS rn
               FROM cellsc),
    assigned AS (SELECT vec_id, cell FROM cellrk WHERE rn = 1),
    probe AS (SELECT vec_id AS query_id, v, cell FROM cellrk
              WHERE rn <= {ANN_NPROBE} AND vec_id < {ANN_QUERY_LIMIT}),
    adc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROUND(SUM(ROUND(list_sum(list_transform(range(1, {_PQ_SUB_DIM + 1}),
                         i -> (CAST(p.v[CAST(ch.s * {_PQ_SUB_DIM} AS INT) + CAST(i AS INT)] AS DOUBLE)
                               - l.centroid[CAST(i AS INT)]) ^ 2)), 9)), 9) AS adc
            FROM probe p
            JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
            JOIN chosen ch ON ch.vec_id = a.vec_id
            JOIN lab l ON l.s = ch.s AND l.k = ch.code
            GROUP BY p.query_id, a.vec_id),
    ivfrk AS (SELECT query_id, neighbor_id, adc,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY adc, neighbor_id) AS rank
              FROM adc)
    SELECT query_id, neighbor_id, ROUND(adc, 6) AS adc, rank::BIGINT AS rank
    FROM ivfrk WHERE rank <= {ANN_K}
    """,
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ search: queries probe their {ANN_NPROBE} nearest cells
    (coarse label-mean quantizer — the partition-pruning half), and
    candidates inside those cells are scored by asymmetric PQ distance
    over their 8 codes (the memory half; the corpus floats never leave
    the encode stage). At 100 TB this is the architecture: the codes
    table partitioned by cell is what a query batch reads — nprobe
    file-pruned, 32× smaller than the vectors. Ranking (adc asc,
    neighbor id), top {ANN_K}. The oracle recomputes coarse cells,
    codebooks, assignments, and ADC from scratch."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        _ranked_cells,
        label_mean_centroids,
        pq_adc_dist_expr,
        pq_codebooks_label_mean,
        pq_encode_exprs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_mean_centroids(emb).select(
        F.col("label").alias("cell"), "centroid"
    )
    ranked = _ranked_cells(emb, cents)
    codebooks = pq_codebooks_label_mean(emb)
    codes, _ = pq_encode_exprs(codebooks)
    corpus = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "cell", codes.alias("codes")
    )
    probe = (
        ranked.filter(
            (F.col("rn") <= ANN_NPROBE) & (F.col("vec_id") < ANN_QUERY_LIMIT)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            "cell",
        )
    )
    pairs = corpus.join(F.broadcast(probe), "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        pq_adc_dist_expr(codebooks).alias("adc"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adc", 6).alias("adc"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# PQ with the REAL trainer: per-subspace seeded Spark ML KMeans
# codebooks plugged into the same encode/ADC machinery, tracked as
# recall@k vs exact L2 plus reconstruction mse. Registered WITHOUT an
# SQL oracle by construction (same posture as ann_kmeans_ivf_recall):
# distributed KMeans centroids are engine-specific, so no DuckDB twin
# can exist — the driver records the rows-only check, and quality is
# value-asserted in pytest (trained mse <= label-mean mse, trained ADC
# recall >= the label-mean PQ path).
# ---------------------------------------------------------------------------
# Harness pin: 10 codewords/subspace = |labels|, so trained and
# label-mean codebooks spend the SAME code budget and the pytest
# bounds compare like for like. Production derives the codeword count
# from corpus size via scaleparams.pq_codewords_for (256 = 8-bit codes
# once trainable).
PQ_TRAINED_K = 10


@query("ann_pq_trained_recall")
def q_ann_pq_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-PQ quality scorecard, one row: (method, n_hits, n_total,
    recall_at_k, mse). Codebooks come from
    operators/similarity.py::pq_codebooks_kmeans (seeded per-subspace
    Spark ML KMeans, m concurrent fits); encode and ADC search reuse
    the exact literal-codebook map-side expressions the label-mean
    queries run, so the only new moving part is the trainer. recall@
    {ANN_K} is measured against exact squared-L2 top-{ANN_K} over the
    float vectors (ties broken by neighbor id on both sides).
    Hash-grade verification (no oracle by construction): fresh-JVM
    two-session determinism pin + a pure-Python third implementation
    of encode/ADC/exact-L2/recall from the collected codebooks (counts
    exact, mse within 1e-6) in tests/test_rows_only_verification.py."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        pq_adc_dist_expr,
        pq_codebooks_kmeans,
        pq_encode_exprs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_codebooks_kmeans(emb, k=PQ_TRAINED_K)
    codes, mse = pq_encode_exprs(cb)
    corpus_codes = spread(emb).select(
        "vec_id", codes.alias("codes"), mse.alias("mse")
    )
    q = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    pairs = corpus_codes.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    approx = (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            pq_adc_dist_expr(cb).alias("adc"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id")
    )
    c = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    l2 = F.expr(
        "aggregate(zip_with(q_vec, c_vec, (x, y) -> "
        "(cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double))), 0D, (acc, v) -> acc + v)"
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(l2, 9).alias("l2"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "neighbor_id")
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    tot = exact.agg(F.count(F.lit(1)).alias("n_total"))
    mse_all = corpus_codes.agg(F.round(F.avg("mse"), 6).alias("mse"))
    return hits.crossJoin(tot).crossJoin(mse_all).select(
        F.lit("pq_kmeans_adc").alias("method"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.round(F.col("n_hits") / F.col("n_total"), 6).alias("recall_at_k"),
        "mse",
    )


# ---------------------------------------------------------------------------
# Embedding-based decontamination — the semantic complement of
# benchmark_decontamination (n-gram overlap misses paraphrased eval
# leakage; cosine similarity catches it). Same 5% hash-split "eval
# benchmark" rule, same sign-LSH blocking as the embedding NN family:
# both sides bucket map-only, the equi-join on the bucket id bounds
# candidates, and only pairs clearing the cosine threshold survive —
# at 100 TB this is the eval-set probe you run before every training
# dump, and the eval side is tiny, so the corpus never shuffles more
# than its bucket key.
# ---------------------------------------------------------------------------
SEMDECON_THRESHOLD = 0.3  # flag cosine >= this as potential leakage
SEMDECON_EVAL_PCT = 5     # same split rule as benchmark_decontamination


@query(
    "semantic_decontamination",
    f"""
    WITH e AS (SELECT vec_id, {sql_lsh_bucket("embedding", _nn_dedup_planes())} AS bucket,
                      embedding::DOUBLE[] AS v,
                      ({sql_hash_bucket("vec_id", salt="eval")} < {SEMDECON_EVAL_PCT})
                        AS is_eval
               FROM embeddings),
    hits AS (SELECT c.vec_id AS doc_id, b.vec_id AS benchmark_id,
                    ROUND(list_dot_product(c.v, b.v)
                          / (sqrt(list_dot_product(c.v, c.v))
                             * sqrt(list_dot_product(b.v, b.v))), 9) AS cosine
             FROM e c JOIN e b ON c.bucket = b.bucket
                               AND NOT c.is_eval AND b.is_eval)
    SELECT doc_id, benchmark_id, ROUND(cosine, 6) AS cosine
    FROM hits WHERE cosine >= {SEMDECON_THRESHOLD}
    """,
)
def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic eval-set leakage probe: corpus vectors whose cosine to
    any held-out "benchmark" vector (stable {SEMDECON_EVAL_PCT}% hash
    split, salt='eval' — the same rule benchmark_decontamination uses
    on text) clears {SEMDECON_THRESHOLD}, compared only within shared
    sign-LSH buckets (the {NN_DEDUP_PLANES}-plane blocking of
    embedding_nn_dedup — the planes knob keeps expected block size
    constant as N grows). Output (doc_id, benchmark_id, cosine): the
    docs to drop before training. The oracle replicates split,
    hyperplanes, and scoring literally, so the hash check covers the
    blocking and the threshold decision."""
    from ..operators.sampling import hash_bucket
    from ..operators.similarity import dot_expr, lsh_bucket_expr, norm_expr

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        lsh_bucket_expr("embedding", _nn_dedup_planes()).alias("bucket"),
        norm_expr("embedding").alias("nrm"),
        (hash_bucket("vec_id", salt="eval") < SEMDECON_EVAL_PCT).alias(
            "is_eval"
        ),
    )
    corpus = emb.filter(~F.col("is_eval")).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("va"),
        "bucket",
        F.col("nrm").alias("na"),
    )
    bench = emb.filter(F.col("is_eval")).select(
        F.col("vec_id").alias("benchmark_id"),
        F.col("embedding").alias("vb"),
        F.col("bucket").alias("bk"),
        F.col("nrm").alias("nb"),
    )
    pairs = corpus.join(F.broadcast(bench), F.col("bucket") == F.col("bk"))
    return (
        pairs.select(
            "doc_id",
            "benchmark_id",
            F.round(
                dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 9
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDECON_THRESHOLD)
        .select("doc_id", "benchmark_id", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/test split — the eval-set construction step a
# training pipeline runs AFTER dedup clustering: split by the hash of
# the duplicate-CLUSTER id, not the doc id, so near-duplicates never
# straddle train/eval (a per-doc hash split leaks paraphrases of
# training rows into the held-out set; splitting the cluster closes
# that contamination mode by construction). Reuses the exact∪MinHash
# duplicate graph of dedup_clusters, so the oracle's WITH RECURSIVE
# reachability + the same md5 bucket rule hash-checks the whole flow:
# pair generation, clustering, and the split decision.
# ---------------------------------------------------------------------------
SPLIT_TEST_PCT = 10


@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    fp AS (SELECT doc_id,
                  md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
           FROM documents),
    freps AS (SELECT fp, MIN(doc_id) AS rep FROM fp GROUP BY fp),
    edges0 AS (
        SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= {JACCARD_THRESHOLD}
        UNION
        SELECT f.rep AS doc_a, p.doc_id AS doc_b
        FROM fp p JOIN freps f USING (fp) WHERE p.doc_id <> f.rep),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM edges0
              UNION
              SELECT doc_b AS u, doc_a AS v FROM edges0),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT node::BIGINT AS doc_id,
           component::BIGINT AS component,
           CASE WHEN {sql_hash_bucket("component", salt="split")} < {SPLIT_TEST_PCT}
                THEN 'test' ELSE 'train' END AS split
    FROM comp
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware {SPLIT_TEST_PCT}% held-out split over the
    documents corpus: exact-dup representatives → MinHash+LSH near-dup
    pairs → exact-dup edges → connected components → split =
    hash(component) — operators/clusters.py::leakage_safe_split. Every
    duplicate pair is guaranteed same-side (pinned by a graph property
    test); the oracle replicates clustering AND the md5 bucket rule, so
    the hash match covers the leakage guarantee end-to-end."""
    from ..operators.clusters import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    near = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = near.unionByName(exact_dup_edges(docs))
    return leakage_safe_split(docs, edges, test_pct=SPLIT_TEST_PCT)


# ---------------------------------------------------------------------------
# Snapshot diff (CDC): turn two full dumps into an incremental change
# feed — (key, insert/update/delete). The fixture derives both
# snapshots from orders with the stable hash-bucket rule so the
# expected change set is deterministic cross-engine: buckets 0-4 exist
# only in the OLD snapshot (deletes), 95-99 only in the NEW (inserts),
# 90-94 get o_totalprice bumped (+1.0 — exact IEEE add, no rounding
# ambiguity) in the new snapshot (updates); 5-89 are identical and
# must NOT be emitted. Spark diffs via map-side md5 row fingerprints
# (operators/cdc.py — the shuffle carries keys + 32 hex chars, never
# rows); the oracle diffs via per-column IS DISTINCT FROM, so the hash
# match proves the fingerprint join implements exactly column-wise
# change semantics.
# ---------------------------------------------------------------------------
_CDC_COMPARE = ["o_orderstatus", "o_totalprice", "o_orderpriority"]

# Shared by orders_snapshot_diff (in-memory snapshots) AND
# orders_version_diff (snapshots committed to the versioned table
# layout and read back via time travel): same change semantics, so
# the hash match on the second proves the commit→pointer→manifest→
# time-travel round-trip is lossless.
_SNAPSHOT_DIFF_ORACLE = f"""
    WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
                      {sql_hash_bucket("o_orderkey", salt="cdc")} AS bkt
               FROM orders),
    oldv AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
             FROM b WHERE bkt < 95),
    newv AS (SELECT o_orderkey, o_orderstatus,
                    CASE WHEN bkt >= 90 THEN o_totalprice + 1.0
                         ELSE o_totalprice END AS o_totalprice,
                    o_orderpriority
             FROM b WHERE bkt >= 5),
    d AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                      WHEN n.o_orderkey IS NULL THEN 'delete'
                      WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                           OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                      THEN 'update' END AS change_type
          FROM oldv o FULL OUTER JOIN newv n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey::BIGINT AS o_orderkey, change_type
    FROM d WHERE change_type IS NOT NULL
    """


def _cdc_snapshots(spark: SparkSession, sf_dir: str):
    """The two deterministic orders snapshots the CDC queries diff."""
    from ..operators.sampling import hash_bucket

    b = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", *_CDC_COMPARE, hash_bucket("o_orderkey", 100, "cdc").alias("bkt")
    )
    old = b.filter(F.col("bkt") < 95).drop("bkt")
    new = (
        b.filter(F.col("bkt") >= 5)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("bkt") >= 90, F.col("o_totalprice") + F.lit(1.0)
            ).otherwise(F.col("o_totalprice")),
        )
        .drop("bkt")
    )
    return old, new


@query("orders_snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two deterministic snapshots of orders via
    operators/cdc.py::snapshot_diff (md5 fingerprint full-outer join;
    see module docstring for the 100 TB shuffle-payload story)."""
    from ..operators.cdc import snapshot_diff

    old, new = _cdc_snapshots(spark, sf_dir)
    diff = snapshot_diff(old, new, ["o_orderkey"], _CDC_COMPARE)
    return diff.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"), "change_type"
    )


@query("orders_version_diff", _SNAPSHOT_DIFF_ORACLE)
def q_orders_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME CDC diff, but through the versioned table layout
    (sources/versioned.py): the old snapshot is committed as version
    0 and the new as version 1 (immutable data files + manifest +
    atomic pointer swap), then BOTH sides are read back via time
    travel (read_version 0 vs 1) and diffed with the identical
    snapshot_diff operator. Sharing orders_snapshot_diff's oracle
    verbatim means the hash match proves the commit → manifest →
    pointer → time-travel round-trip loses and invents nothing —
    the versioned layout is pure routing. The end-to-end write cost
    is inside the timed query by design (the compaction_roundtrip /
    dedup_clusters_new_batch contract-query posture); real pipelines
    own a long-lived table and pay only commits. Snapshot isolation,
    crash recovery, append file-reuse and retention are pinned in
    tests/test_versioned.py."""
    from ..operators.cdc import snapshot_diff
    from ..sources.versioned import commit_version, read_version

    root = _run_scoped_index_dir("versioned_cdc")
    old, new = _cdc_snapshots(spark, sf_dir)
    # explicit raise, not assert: the v0/v1 pin is what makes the diff
    # equal the oracle, and asserts vanish under `python -O`
    versions = (commit_version(old, root), commit_version(new, root))
    if versions != (0, 1):
        raise RuntimeError(
            f"versioned_cdc fixture committed as versions {versions}, "
            "expected (0, 1) on a fresh run-scoped table"
        )
    diff = snapshot_diff(
        read_version(spark, root, 0),
        read_version(spark, root, 1),
        ["o_orderkey"],
        _CDC_COMPARE,
    )
    return diff.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"), "change_type"
    )


@query(
    "orders_version_history",
    f"""
    WITH b AS (SELECT o_orderkey,
                      {sql_hash_bucket("o_orderkey", salt="vhist")} AS bkt
               FROM orders)
    SELECT 0::BIGINT AS version,
           (SELECT COUNT(*) FROM b WHERE bkt < 50)::BIGINT AS n_rows,
           (SELECT COUNT(DISTINCT o_orderkey) FROM b WHERE bkt < 50)::BIGINT
             AS n_keys
    UNION ALL
    SELECT 1, (SELECT COUNT(*) FROM b WHERE bkt < 95)::BIGINT,
           (SELECT COUNT(DISTINCT o_orderkey) FROM b WHERE bkt < 95)::BIGINT
    UNION ALL
    SELECT 2, (SELECT COUNT(*) FROM b)::BIGINT,
           (SELECT COUNT(DISTINCT o_orderkey) FROM b)::BIGINT
    """,
)
def q_orders_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode version history: three commits build the table —
    v0 = overwrite (hash buckets < 50), v1 = APPEND buckets [50, 95),
    v2 = APPEND buckets >= 95 — and the query time-travels to EVERY
    version, emitting (version, n_rows, n_keys). Append commits reuse
    the parent's immutable files untouched (commit cost ∝ batch, the
    incremental-index posture; file reuse pinned in
    tests/test_versioned.py), so v2's manifest references v0's and
    v1's data files without a byte rewritten. The oracle recomputes
    each version's membership from the bucket rule, proving the
    manifest chain composes appends losslessly."""
    from ..operators.sampling import hash_bucket
    from ..sources.versioned import commit_version, read_version

    root = _run_scoped_index_dir("versioned_hist")
    b = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", hash_bucket("o_orderkey", 100, "vhist").alias("bkt")
    )
    commit_version(b.filter(F.col("bkt") < 50).drop("bkt"), root)
    commit_version(
        (b.filter((F.col("bkt") >= 50) & (F.col("bkt") < 95)).drop("bkt")),
        root,
        mode="append",
    )
    commit_version(b.filter(F.col("bkt") >= 95).drop("bkt"), root, mode="append")
    parts = [
        read_version(spark, root, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_keys"),
        )
        for v in (0, 1, 2)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# o_orderkey is DENSE from 0 at every scale factor, so a low fixed
# slice stays selective (1 of 8 range-clustered files) from sf0.001
# through sf0.1 — a mid-range slice would cover every file at small SF
PRUNE_LO, PRUNE_HI = 0, 150


@query(
    "versioned_pruned_read",
    f"""
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS n_orders,
           MIN(o_orderkey)::BIGINT AS min_key,
           MAX(o_orderkey)::BIGINT AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN {PRUNE_LO} AND {PRUNE_HI}
    GROUP BY o_orderpriority
    """,
)
def q_versioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file pruning end-to-end: orders is committed as
    a versioned table RANGE-CLUSTERED on o_orderkey with per-file
    min/max stats in the manifest (sources/versioned.py), then read
    back through `read_version(predicate=(o_orderkey, lo, hi))` —
    non-overlapping files are dropped before the scan starts (the
    Iceberg-style read path; files-read < files-in-manifest is
    plan-pinned in tests) — and aggregated. The oracle is the plain
    filtered aggregate over the raw table, so the hash match proves
    pruning loses and invents no rows. Commit cost is inside the
    timed query by the contract-query posture (orders_version_diff);
    a real pipeline owns the table and pays only the pruned read."""
    from ..sources.versioned import commit_version, read_version

    root = _run_scoped_index_dir("versioned_prune")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    commit_version(
        orders.repartitionByRange(8, "o_orderkey"),
        root,
        stats_cols=["o_orderkey"],
    )
    pruned = read_version(
        spark, root, predicate=("o_orderkey", PRUNE_LO, PRUNE_HI)
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@query(
    "versioned_zorder_read",
    """
    WITH b AS (SELECT l_returnflag, l_orderkey,
                      l_orderkey % 64 AS ob, l_partkey % 64 AS pb
               FROM lineitem)
    SELECT l_returnflag,
           COUNT(*)::BIGINT AS n_items,
           MIN(l_orderkey)::BIGINT AS min_ok,
           MAX(l_orderkey)::BIGINT AS max_ok
    FROM b WHERE pb BETWEEN 0 AND 7
    GROUP BY l_returnflag
    """,
)
def q_versioned_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER file pruning end-to-end: lineitem is committed to the
    versioned layout clustered on the Morton key over two balanced
    bucket columns (ob = l_orderkey % 64, pb = l_partkey % 64 — the
    real-world z-order practice: interleave COMPARABLE-cardinality
    keys, since a dimension with far more bits dominates the coarse
    ordering), with per-file stats on both. The read prunes on pb —
    the dimension lexicographic (ob, pb) clustering could never prune
    — and aggregates; the oracle is the plain filtered aggregate over
    raw lineitem, so the hash match proves the Morton layout loses and
    invents no rows. Pruning (files-read < files-in-manifest on BOTH
    dimensions) is pinned in tests/test_versioned.py."""
    from ..sources.versioned import (
        commit_version,
        read_version,
        zorder_value,
    )

    root = _run_scoped_index_dir("versioned_zorder")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        (F.col("l_orderkey") % 64).alias("ob"),
        (F.col("l_partkey") % 64).alias("pb"),
    )
    clustered = (
        li.withColumn("_z", zorder_value(["ob", "pb"]))
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    commit_version(clustered, root, stats_cols=["ob", "pb"])
    pruned = read_version(spark, root, predicate=("pb", 0, 7))
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.min("l_orderkey").cast("bigint").alias("min_ok"),
        F.max("l_orderkey").cast("bigint").alias("max_ok"),
    )


