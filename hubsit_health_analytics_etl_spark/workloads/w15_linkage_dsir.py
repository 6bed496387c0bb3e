"""DSIR importance weights + lifecycle, nDCG@k, prefix-filtered Jaccard, blocked fuzzy linkage, hard negatives, epoch shuffle, information value, link prediction, k-core.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w02_dedup import _run_scoped_index_dir, _sql_shingles  # noqa: E402
from .w03_similarity_multimodal import _COS_SQL, q_ann_bruteforce_topk, q_ann_lsh_topk  # noqa: E402
from .w05_clusters_ann import q_ann_ivf_nprobe_topk, q_ann_ivf_topk  # noqa: E402
from .w14_graph import PPR_SEEDS, TRI_MIN_SUPPORT, copurchase_pairs, copurchase_seeds  # noqa: E402


# ---------------------------------------------------------------------------
# BFS hop distance — the reachability-DISTANCE graph member: CC says
# "same island?", PPR scores affinity, bfs_hops says "how far?". The
# query measures the blast radius of the hottest parts: hop distance
# from the 3 highest-support parts (the PPR seed set, verbatim) over
# the support-pruned co-purchase graph. Frontier BFS — each round
# expands only nodes FIRST reached last round against the
# once-materialized edge frame; exact integer distances, unrolled-CTE
# oracle.
# ---------------------------------------------------------------------------
BFS_MAX_HOPS = 3


def _bfs_oracle() -> str:
    rounds = []
    for i in range(1, BFS_MAX_HOPS + 1):
        rounds.append(
            f"""n{i} AS MATERIALIZED (
              SELECT DISTINCT e.dst AS node
              FROM e JOIN f{i - 1} ON e.src = f{i - 1}.node),
            f{i} AS MATERIALIZED (
              SELECT n{i}.node FROM n{i}
              LEFT JOIN v{i - 1} ON v{i - 1}.node = n{i}.node
              WHERE v{i - 1}.node IS NULL),
            v{i} AS MATERIALIZED (
              SELECT node, dist FROM v{i - 1}
              UNION ALL SELECT node, {i} FROM f{i})"""
        )
    return f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      WHERE c >= {TRI_MIN_SUPPORT}),
    e AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
                       UNION ALL SELECT v AS src, u AS dst FROM und),
    innodes AS (SELECT DISTINCT src AS node FROM e),
    seeds AS MATERIALIZED (
      SELECT pk AS node FROM (
        SELECT op.pk, COUNT(*) AS c FROM op JOIN innodes ON innodes.node = op.pk
        GROUP BY op.pk ORDER BY c DESC, op.pk LIMIT {PPR_SEEDS})),
    f0 AS (SELECT node FROM seeds),
    v0 AS (SELECT node, 0 AS dist FROM seeds),
    {", ".join(rounds)}
    SELECT node AS part_key, dist::BIGINT AS dist FROM v{BFS_MAX_HOPS}
    """


@query("part_hops_bfs", _bfs_oracle())
def q_part_hops_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance (≤ {BFS_MAX_HOPS}) from the {PPR_SEEDS}
    highest-support parts over the support-pruned co-purchase graph —
    multi-source frontier BFS (operators/clusters.py::bfs_hops: round
    i expands only nodes FIRST reached in round i−1 against the
    once-materialized edge frame, anti-joins visited; work per round
    ∝ the frontier's edge cut). Seed selection is the related_parts_ppr
    contract verbatim, so the two queries compose: PPR scores the
    affinity of what BFS proves reachable. Exact-integer distances,
    hash-matched against the unrolled-CTE oracle."""
    from ..operators.clusters import bfs_hops

    und = copurchase_pairs(spark, sf_dir)
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    seeds = copurchase_seeds(spark, sf_dir, und)
    return bfs_hops(edges, seeds, max_hops=BFS_MAX_HOPS).select(
        F.col("node").alias("part_key"), "dist"
    )


# ---------------------------------------------------------------------------
# DSIR importance weights — the data-SELECTION member of the mixture
# family (Xie et al. 2023): source_token_waterfill budgets whole
# sources, corpus_temperature_sample executes a mixture row-level;
# DSIR scores each INDIVIDUAL document by how target-like its hashed
# bigram distribution is, so resampling by the weights shifts a raw
# crawl toward a high-quality reference domain without training a
# classifier. Same exactness discipline as doc_unigram_nll: every
# bucket contribution is tf · ln of one exact-int64 smoothed ratio,
# per-doc sums fold bucket-sorted.
# ---------------------------------------------------------------------------
DSIR_TGT_MIN_CHARS = 300  # target corpus = long docs (fixture median ~311)


def _dsir_oracle() -> str:
    from ..operators.textanalysis import DSIR_BUCKETS

    b = DSIR_BUCKETS
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    bg = (
        "unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), "
        "i -> t[i] || ' ' || t[i+1]))"
    )
    bucket = f"(CAST('0x' || substr(md5('dsir' || bg), 1, 8) AS BIGINT) % {b})"
    return f"""
    WITH tg0 AS (SELECT {toks} AS t FROM documents
                 WHERE n_chars >= {DSIR_TGT_MIN_CHARS}),
    tg AS (SELECT {bg} AS bg FROM tg0),
    ct AS (SELECT {bucket} AS bucket, COUNT(*)::BIGINT AS c_t
           FROM tg GROUP BY 1),
    db0 AS (SELECT doc_id, {toks} AS t FROM documents),
    db AS (SELECT doc_id, {bg} AS bg FROM db0),
    tf AS (SELECT doc_id, {bucket} AS bucket, COUNT(*)::BIGINT AS tf_l
           FROM db GROUP BY 1, 2),
    cr AS (SELECT bucket, SUM(tf_l)::BIGINT AS c_r FROM tf GROUP BY bucket),
    tot AS (SELECT (SELECT COALESCE(SUM(c_t), 0) FROM ct)::BIGINT AS n_t,
                   (SELECT COALESCE(SUM(c_r), 0) FROM cr)::BIGINT AS n_r),
    c AS (SELECT tf.doc_id, tf.bucket, tf.tf_l,
                 CAST(tf.tf_l AS DOUBLE) * ln(
                   CAST((COALESCE(ct.c_t, 0) + 1) * (tot.n_r + {b}) AS DOUBLE)
                   / CAST((cr.c_r + 1) * (tot.n_t + {b}) AS DOUBLE)) AS w
          FROM tf JOIN cr USING (bucket) LEFT JOIN ct USING (bucket)
          CROSS JOIN tot),
    s AS (SELECT doc_id, SUM(tf_l)::BIGINT AS n_bigrams,
                 list_sum(list(w ORDER BY bucket)) AS logw
          FROM c GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(s.n_bigrams, 0)::BIGINT AS n_bigrams,
           CASE WHEN s.n_bigrams > 0
                THEN CAST(FLOOR(s.logw * 1000000.0) AS BIGINT) END AS logw_u6,
           (CASE WHEN s.n_bigrams > 0
                      AND CAST(FLOOR(s.logw * 1000000.0) AS BIGINT) >= 0
                 THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM documents d LEFT JOIN s USING (doc_id)
    """


@query("dsir_doc_weights", _dsir_oracle())
def q_dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance log-weight toward the long-doc
    target slice (n_chars ≥ {DSIR_TGT_MIN_CHARS}), hashed-bigram
    features (operators/textanalysis.py::dsir_logweights — see its
    docstring for the smoothing, exactness and persisted-index
    posture). keep = logw_u6 ≥ 0 (more target-like than raw-like);
    bigram-less docs report (0, NULL, 0) via the left join. The raw
    corpus explodes ONCE (raw bucket counts derive from the per-doc
    tf table); at 100 TB both count tables are standing
    vocabulary-style indexes and scoring a new crawl batch is one
    equi-join on bucket."""
    from ..operators.sampling import hash_bucket  # noqa: F401 (family import)
    from ..operators.textanalysis import dsir_logweights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("n_chars") >= DSIR_TGT_MIN_CHARS)
    s = dsir_logweights(spread(docs), target)
    logw_u6 = F.floor(F.col("logw") * F.lit(1000000.0)).cast("bigint")
    scored = s.select(
        "doc_id",
        "n_bigrams",
        F.when(F.col("n_bigrams") > 0, logw_u6).alias("logw_u6"),
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            "logw_u6",
            F.when(
                F.col("n_bigrams").isNotNull()
                & (F.col("n_bigrams") > 0)
                & (F.col("logw_u6") >= 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# nDCG@k — the ORDER-aware retrieval metric next to ann_recall_at_k's
# set-overlap: recall treats a method that returns the right 5
# neighbors in the wrong order as perfect; nDCG discounts each hit by
# its position, so misordering costs score. Graded relevance derives
# from the exact brute-force ranking (rank 1 → rel 3, 2-3 → 2,
# 4-5 → 1); the position discounts 1/log2(r+1) are PRECOMPUTED
# integer micro-constants baked identically into both engines, so the
# whole metric is exact-integer (dcg·10⁶ div idcg) with no float log
# at query time.
# ---------------------------------------------------------------------------
_NDCG_REL_BY_RANK = {1: 3, 2: 2, 3: 2, 4: 1, 5: 1}
_NDCG_W_U6 = {
    r: int(1_000_000 / __import__("math").log2(r + 1)) for r in range(1, 6)
}
_NDCG_REL_CASE = (
    "CASE brank "
    + " ".join(f"WHEN {r} THEN {g}" for r, g in _NDCG_REL_BY_RANK.items())
    + " ELSE 0 END"
)
_NDCG_W_CASE = (
    "CASE arank "
    + " ".join(f"WHEN {r} THEN {w}" for r, w in _NDCG_W_U6.items())
    + " ELSE 0 END"
)


def _ndcg_oracle() -> str:
    from ..workload import ORACLES

    return f"""
    WITH brute AS ({ORACLES["ann_bruteforce_topk"]}),
    lsh AS ({ORACLES["ann_lsh_topk"]}),
    ivf AS ({ORACLES["ann_ivf_topk"]}),
    ivf2 AS ({ORACLES["ann_ivf_nprobe_topk"]}),
    gains AS (SELECT query_id, neighbor_id, rank AS brank,
                     ({_NDCG_REL_CASE.replace("brank", "rank")})::BIGINT AS rel
              FROM brute),
    idcg AS (SELECT query_id,
                    SUM(rel * ({_NDCG_W_CASE.replace("arank", "brank")}))::BIGINT
                      AS idcg_u6
             FROM gains GROUP BY query_id),
    approx AS (SELECT 'lsh' AS method, query_id, neighbor_id, rank AS arank
               FROM lsh
               UNION ALL
               SELECT 'ivf', query_id, neighbor_id, rank FROM ivf
               UNION ALL
               SELECT 'ivf2', query_id, neighbor_id, rank FROM ivf2),
    dcg AS (SELECT a.method, a.query_id,
                   SUM(COALESCE(g.rel, 0) * ({_NDCG_W_CASE}))::BIGINT AS dcg_u6
            FROM approx a LEFT JOIN gains g
              ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id
            GROUP BY a.method, a.query_id)
    SELECT d.method, d.query_id, d.dcg_u6, i.idcg_u6,
           ((d.dcg_u6 * 1000000) // i.idcg_u6)::BIGINT AS ndcg_u6
    FROM dcg d JOIN idcg i USING (query_id)
    """


@query("retrieval_ndcg_at_k", _ndcg_oracle())
def q_retrieval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(method, query) nDCG@{ANN_K} of the LSH/IVF/IVF-nprobe ANN
    paths against graded relevance derived from the exact brute-force
    ranking — the order-aware companion to ann_recall_at_k (recall
    can't see misordering; nDCG discounts every hit by its returned
    position). Exact-integer: relevance grades and the 1/log2(r+1)
    position discounts are shared literal micro-constants, ndcg_u6 =
    (dcg·10⁶) div idcg. The ~100-row exact answer materializes once
    and feeds both the gain join and the per-query IDCG."""
    brute = q_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    ).transform(materialize)
    rel_case = _NDCG_REL_CASE.replace("brank", "rank").replace("WHEN", "when")
    gains = brute.select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("brank"),
        F.expr(f"cast(({rel_case}) as bigint)").alias("rel"),
    )
    idcg = gains.groupBy("query_id").agg(
        F.expr(
            f"cast(sum(rel * ({_NDCG_W_CASE.replace('arank', 'brank')})) as bigint)"
        ).alias("idcg_u6")
    )
    approx = (
        q_ann_lsh_topk(spark, sf_dir)
        .select(F.lit("lsh").alias("method"), "query_id", "neighbor_id",
                F.col("rank").alias("arank"))
        .unionByName(
            q_ann_ivf_topk(spark, sf_dir).select(
                F.lit("ivf").alias("method"), "query_id", "neighbor_id",
                F.col("rank").alias("arank"))
        )
        .unionByName(
            q_ann_ivf_nprobe_topk(spark, sf_dir).select(
                F.lit("ivf2").alias("method"), "query_id", "neighbor_id",
                F.col("rank").alias("arank"))
        )
    )
    dcg = (
        approx.join(
            gains.select("query_id", "neighbor_id", "rel"),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("method", "query_id")
        .agg(
            F.expr(
                f"cast(sum(coalesce(rel, 0) * ({_NDCG_W_CASE})) as bigint)"
            ).alias("dcg_u6")
        )
    )
    return dcg.join(idcg, "query_id").select(
        "method",
        "query_id",
        "dcg_u6",
        "idcg_u6",
        F.expr("cast((dcg_u6 * 1000000) div idcg_u6 as bigint)").alias("ndcg_u6"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered Jaccard join — the set-similarity SCALE technique
# (AllPairs/PPJoin principle): same exact answer as
# ngram_jaccard_pairs, but candidates generate from each document's
# p = n − ⌈τ·n⌉ + 1 globally-RAREST shingles instead of the full
# inverted index, so boilerplate shingles (the O(m²) reducer killers
# the df-cap lever mitigates lossily) drop out of candidate
# generation entirely — with ZERO recall loss. The oracle is the
# exhaustive all-pairs SQL VERBATIM: a hash match certifies
# losslessness cryptographically.
# ---------------------------------------------------------------------------


@query(
    "jaccard_prefix_filtered",
    f"""
    WITH sh AS (SELECT doc_id,
                       list_transform({_sql_shingles()},
                                      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS sh
                FROM documents),
    inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                     COUNT(*) AS n_inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.n, b.n)
    SELECT doc_a, doc_b,
           ROUND(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter
    WHERE ROUND(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
    """,
)
def q_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ {JACCARD_THRESHOLD} pairs computed via PREFIX
    FILTERING (operators/dedup.py::jaccard_prefix_filter_pairs — see
    its docstring for the losslessness proof and the hot-shingle
    argument). The oracle is ngram_jaccard_pairs' exhaustive
    all-pairs SQL verbatim, so the hash match proves the pruned
    candidate generator loses nothing. Verification is
    candidate-bounded: candidates join one side's postings then
    equi-join the other on (doc, shingle) — never the full
    shared-shingle pair expansion."""
    from ..operators.dedup import jaccard_prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_prefix_filter_pairs(docs, 3, 10)


# ---------------------------------------------------------------------------
# Blocked fuzzy name matching — the record-linkage / catalog-dedup
# primitive the text-dedup family lacks: shingle Jaccard needs
# documents, SimHash needs long token streams; SHORT names (product
# titles, clinic names, merchant strings) dedupe by edit distance.
# Two-phase at scale: exact-dedup the name column FIRST (fuzzy work ∝
# distinct names, never rows), block candidates on a shared word,
# verify with exact Levenshtein — never the quadratic all-pairs
# distance join.
# ---------------------------------------------------------------------------
FUZZY_MAX_DIST = 3


@query(
    "part_name_fuzzy_matches",
    f"""
    WITH d AS (SELECT p_name, COUNT(*)::BIGINT AS n_parts
               FROM part GROUP BY p_name),
    t AS (SELECT p_name AS n, unnest(string_split(p_name, ' ')) AS k FROM d),
    tt AS (SELECT n, k FROM t WHERE k <> ''),
    c AS (SELECT DISTINCT a.n AS name_a, b.n AS name_b
          FROM tt a JOIN tt b ON a.k = b.k AND a.n < b.n),
    v AS (SELECT name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
          FROM c)
    SELECT v.name_a, v.name_b, v.dist,
           da.n_parts AS n_parts_a, db.n_parts AS n_parts_b
    FROM v JOIN d da ON da.p_name = v.name_a
           JOIN d db ON db.p_name = v.name_b
    WHERE v.dist <= {FUZZY_MAX_DIST}
    """,
)
def q_part_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-dedup candidates: part-name pairs sharing ≥1 word with
    Levenshtein ≤ {FUZZY_MAX_DIST} (operators/joins.py::
    blocked_fuzzy_self_join — see its docstring for the blocking
    contract and hot-block lever), annotated with how many catalog
    rows carry each name. The name table exact-dedups FIRST, so the
    fuzzy phase runs over |distinct names| (64 at every fixture SF
    while the part table grows 100×) — the property that makes edit
    distance affordable at 100 TB. Exact-integer distances;
    cross-engine levenshtein verified by the hash match."""
    from ..operators.joins import blocked_fuzzy_self_join

    part = load_table(spark, sf_dir, "part")
    d = part.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    m = blocked_fuzzy_self_join(d, "p_name", FUZZY_MAX_DIST)
    da = d.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"))
    db = d.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"))
    return (
        m.join(F.broadcast(da), "name_a")
        .join(F.broadcast(db), "name_b")
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining — the TRAINING-DATA side of the ANN family:
# retrieval/embedding models train on (anchor, positive, negative)
# triplets where the negatives are HARD — high-similarity wrong-label
# neighbors straight from the top-k pool (random negatives are too
# easy and teach nothing). One exact top-k pass over the anchor set
# feeds both roles: positive = best same-label neighbor, negatives =
# top different-label neighbors.
# ---------------------------------------------------------------------------
CONTRASTIVE_POOL = 10  # neighbor pool per anchor (2× ANN_K)
CONTRASTIVE_NEG = 3    # hard negatives kept per anchor


@query(
    "contrastive_training_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {ANN_QUERY_LIMIT}),
    p AS (SELECT q.query_id, e.vec_id AS neighbor_id, ROUND({_COS_SQL}, 9) AS cosine
          FROM q JOIN e ON e.vec_id <> q.query_id),
    r AS (SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM p),
    c AS (SELECT r.query_id, r.neighbor_id, r.rank,
                 ea.label AS alabel, en.label AS nlabel
          FROM r JOIN embeddings ea ON ea.vec_id = r.query_id
                 JOIN embeddings en ON en.vec_id = r.neighbor_id
          WHERE r.rank <= {CONTRASTIVE_POOL}),
    pos AS (SELECT query_id, neighbor_id AS pos_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank) AS pr
            FROM c WHERE alabel = nlabel),
    p1 AS (SELECT query_id, pos_id FROM pos WHERE pr = 1),
    neg AS (SELECT query_id, neighbor_id AS neg_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank)
                     AS neg_rank
            FROM c WHERE alabel <> nlabel)
    SELECT n.query_id AS anchor_id, p1.pos_id, n.neg_id,
           n.neg_rank::BIGINT AS neg_rank
    FROM neg n JOIN p1 USING (query_id)
    WHERE n.neg_rank <= {CONTRASTIVE_NEG}
    """,
)
def q_contrastive_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, hard-negative) triplets for contrastive
    embedding training: one exact top-{CONTRASTIVE_POOL} pass per
    anchor (the verified brute_force_topk path — broadcast query set,
    9dp pre-rank rounding) feeds both roles — positive = best
    SAME-label neighbor, negatives = top-{CONTRASTIVE_NEG}
    DIFFERENT-label neighbors (hard by construction: they sit at the
    top of the similarity ranking, exactly where the model is wrong).
    Anchors with no same-label neighbor in the pool drop via the
    inner join. Ranks come from the already-hash-verified scoring
    path, so the triplet table is exact-integer; at 100 TB the top-k
    pass swaps to the IVF/LSH retrieval the ANN family provides —
    the mining joins are pool-sized either way."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    cand = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT), CONTRASTIVE_POOL
    )
    lab = emb.select("vec_id", "label")
    c = (
        cand.join(
            F.broadcast(lab.select(F.col("vec_id").alias("query_id"),
                                   F.col("label").alias("alabel"))),
            "query_id",
        )
        .join(
            lab.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("label").alias("nlabel")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", "rank", "alabel", "nlabel")
    )
    wq = Window.partitionBy("query_id").orderBy("rank")
    p1 = (
        c.filter(F.col("alabel") == F.col("nlabel"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") == 1)
        .select("query_id", F.col("neighbor_id").alias("pos_id"))
    )
    neg = (
        c.filter(F.col("alabel") != F.col("nlabel"))
        .withColumn("neg_rank", F.row_number().over(wq))
        .filter(F.col("neg_rank") <= CONTRASTIVE_NEG)
        .select("query_id", F.col("neighbor_id").alias("neg_id"), "neg_rank")
    )
    return neg.join(p1, "query_id").select(
        F.col("query_id").alias("anchor_id"),
        "pos_id",
        "neg_id",
        F.col("neg_rank").cast("bigint").alias("neg_rank"),
    )


# ---------------------------------------------------------------------------
# Epoch shuffle plan — reproducible per-epoch global shuffling, the
# training-loader op rand() cannot give you: a retried task, a
# re-run, or a different partitioning must produce the SAME epoch
# order (else runs aren't comparable and resume-from-step is
# impossible). Position derives from the row's own key: per epoch,
# shard = md5(epoch‖doc) % S (map-only), order within shard = the
# hash itself — so there is never a GLOBAL sort, shards shuffle
# independently (the 100 TB posture: one writer per shard), and a
# different epoch salt is a statistically fresh permutation.
# ---------------------------------------------------------------------------
SHUFFLE_EPOCHS = 3
SHUFFLE_SHARDS = 8


@query(
    "epoch_shuffle_plan",
    f"""
    WITH d AS (SELECT doc_id FROM documents),
    ed AS (SELECT e.epoch, d.doc_id,
                  CAST('0x' || substr(md5('ep' || e.epoch::VARCHAR || ':'
                                           || d.doc_id::VARCHAR), 1, 8)
                       AS BIGINT) AS h
           FROM d CROSS JOIN (SELECT unnest(range({SHUFFLE_EPOCHS})) AS epoch) e),
    s AS (SELECT epoch::BIGINT AS epoch, doc_id, (h % {SHUFFLE_SHARDS}) AS shard, h
          FROM ed)
    SELECT epoch, doc_id, shard::BIGINT AS shard,
           ROW_NUMBER() OVER (PARTITION BY epoch, shard
                              ORDER BY h, doc_id)::BIGINT AS pos
    FROM s
    """,
)
def q_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch (shard, position) for every document over
    {SHUFFLE_EPOCHS} epochs and {SHUFFLE_SHARDS} shards — the
    deterministic training-shuffle plan: shard assignment is a
    map-only hash of (epoch salt ‖ doc_id), within-shard order is the
    hash itself via a PARTITIONED window (never a global sort — each
    shard orders independently, which is exactly how S parallel
    shard writers consume it), and every epoch is a fresh
    permutation that reproduces bit-identically on retry or
    re-partitioning (the hash_sample/md5 discipline; rand() breaks
    all of this). Exact-integer throughout."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ed = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SHUFFLE_EPOCHS - 1))).alias("epoch"),
    ).select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "doc_id",
        F.expr(
            "cast(conv(substr(md5(concat('ep', cast(epoch as string), ':', "
            "cast(doc_id as string))), 1, 8), 16, 10) as bigint)"
        ).alias("h"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    return (
        ed.withColumn("shard", (F.col("h") % SHUFFLE_SHARDS).cast("bigint"))
        .select(
            "epoch",
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
    )


# ---------------------------------------------------------------------------
# Feature Information Value — the screening step BEFORE fitting the
# quality model (doc_quality_logit / _trained_model fit weights; IV
# ranks which features deserve weights at all): quintile-bucket each
# candidate feature, weight-of-evidence per bucket
# WOE = ln(pct_good / pct_bad), IV = Σ (pct_good − pct_bad) · WOE.
# Add-one smoothing makes every WOE an ln of one exact-int64 ratio
# (the PMI trick); the per-feature IV folds the ≤5 bucket
# contributions bucket-sorted. ntile ordering is fully tie-broken by
# doc_id, so buckets are engine-identical.
# ---------------------------------------------------------------------------
IV_BUCKETS = 5


def _iv_oracle() -> str:
    q = IV_BUCKETS
    return f"""
    WITH f0 AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens,
             (length(text) - (len(string_split(lower(text), ' ')) - 1))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
               AS mean_word_len,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               / CAST(length(text) AS DOUBLE) AS punct_ratio,
             (CASE WHEN {{score}} >= 0.7 THEN 1 ELSE 0 END) AS good
      FROM documents),
    u AS (SELECT doc_id, good, 'n_tokens' AS feature,
                 CAST(n_tokens AS DOUBLE) AS val FROM f0
          UNION ALL
          SELECT doc_id, good, 'mean_word_len', mean_word_len FROM f0
          UNION ALL
          SELECT doc_id, good, 'punct_ratio', punct_ratio FROM f0),
    b AS (SELECT feature, good,
                 NTILE({q}) OVER (PARTITION BY feature
                                  ORDER BY val, doc_id) AS bucket
          FROM u),
    g AS (SELECT feature, bucket,
                 SUM(good)::BIGINT AS n_good,
                 (COUNT(*) - SUM(good))::BIGINT AS n_bad
          FROM b GROUP BY feature, bucket),
    t AS (SELECT feature, SUM(n_good)::BIGINT AS gt, SUM(n_bad)::BIGINT AS bt
          FROM g GROUP BY feature),
    w AS (SELECT g.feature, g.bucket, g.n_good, g.n_bad,
                 ln(CAST((g.n_good + 1) * (t.bt + {q}) AS DOUBLE)
                    / CAST((g.n_bad + 1) * (t.gt + {q}) AS DOUBLE)) AS woe,
                 (CAST(g.n_good + 1 AS DOUBLE) / (t.gt + {q})
                  - CAST(g.n_bad + 1 AS DOUBLE) / (t.bt + {q}))
                 * ln(CAST((g.n_good + 1) * (t.bt + {q}) AS DOUBLE)
                      / CAST((g.n_bad + 1) * (t.gt + {q}) AS DOUBLE)) AS contrib
          FROM g JOIN t USING (feature)),
    iv AS (SELECT feature,
                  CAST(FLOOR(list_sum(list(contrib ORDER BY bucket))
                             * 1000000.0) AS BIGINT) AS iv_u6
           FROM w GROUP BY feature)
    SELECT w.feature, w.bucket::BIGINT AS bucket, w.n_good, w.n_bad,
           CAST(FLOOR(w.woe * 1000000.0) AS BIGINT) AS woe_u6, iv.iv_u6
    FROM w JOIN iv USING (feature)
    """


def _iv_score_sql() -> str:
    """The doc_quality score expression inline (DuckDB twin of
    operators/textanalysis.py::quality_score) — shared shape with the
    doc_quality oracle."""
    toks = "string_split(lower(text), ' ')"
    sw = "[" + ", ".join(f"'{w}'" for w in sorted(STOPWORDS_ALL)) + "]"
    stop = f"len(list_filter({toks}, x -> list_contains({sw}, x)))"
    mwl = f"(length(text) - (len({toks}) - 1)) / CAST(len({toks}) AS DOUBLE)"
    punct = (
        "length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))"
        " / CAST(length(text) AS DOUBLE)"
    )
    return (
        f"ROUND(LEAST({stop} / CAST(len({toks}) AS DOUBLE) * 4.0, 1.0) * 0.4"
        f" + (CASE WHEN {mwl} >= 3 AND {mwl} <= 10 THEN 1.0 ELSE 0.0 END) * 0.3"
        f" + (1.0 - LEAST({punct} * 5.0, 1.0)) * 0.3, 4)"
    )


@query("quality_feature_iv", _iv_oracle().replace("{score}", _iv_score_sql()))
def q_quality_feature_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information Value screening of 3 candidate quality features
    against an above-median-quality target (quality_score ≥ 0.7 —
    the fixture median, so the split is balanced at every SF):
    quintile buckets
    (ntile fully tie-broken by doc_id — engine-identical), per-bucket
    WOE_u6 = ⌊10⁶·ln(pct_good/pct_bad)⌋ with add-one smoothing (each
    WOE is ln of ONE exact-int64 ratio), per-feature IV folded
    bucket-sorted. The step before fitting: IV ranks which features
    deserve model weights (rule of thumb: <0.02 useless, >0.3
    strong). One corpus scan feeds the unpivot; everything after is
    (features×buckets)-sized."""
    from pyspark.sql import Window

    from ..operators.textanalysis import quality_features, quality_score

    q = IV_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    f = quality_features("text")
    f0 = docs.select(
        "doc_id",
        f["n_tokens"].cast("double").alias("n_tokens"),
        f["mean_word_len"].alias("mean_word_len"),
        f["punct_ratio"].alias("punct_ratio"),
        (quality_score("text") >= 0.7).cast("int").alias("good"),
    )
    u = None
    for feat in ("n_tokens", "mean_word_len", "punct_ratio"):
        part = f0.select(
            "doc_id", "good", F.lit(feat).alias("feature"),
            F.col(feat).alias("val"),
        )
        u = part if u is None else u.unionByName(part)
    w_nt = Window.partitionBy("feature").orderBy("val", "doc_id")
    b = u.select("feature", "good", F.ntile(q).over(w_nt).alias("bucket"))
    g = b.groupBy("feature", "bucket").agg(
        F.sum("good").cast("bigint").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("good")).cast("bigint").alias("n_bad"),
    )
    t = g.groupBy("feature").agg(
        F.sum("n_good").cast("bigint").alias("gt"),
        F.sum("n_bad").cast("bigint").alias("bt"),
    )
    ln_ratio = (
        f"ln(cast((n_good + 1) * (bt + {q}) as double)"
        f" / cast((n_bad + 1) * (gt + {q}) as double))"
    )
    w = g.join(t, "feature").select(
        "feature", "bucket", "n_good", "n_bad",
        F.expr(ln_ratio).alias("woe"),
        F.expr(
            f"(cast(n_good + 1 as double) / (gt + {q})"
            f" - cast(n_bad + 1 as double) / (bt + {q})) * ({ln_ratio})"
        ).alias("contrib"),
    )
    iv = w.groupBy("feature").agg(
        F.expr(
            "cast(floor(aggregate(transform(array_sort("
            "collect_list(struct(bucket, contrib))), p -> p.contrib),"
            " 0D, (acc, x) -> acc + x) * 1000000.0) as bigint)"
        ).alias("iv_u6")
    )
    return w.join(iv, "feature").select(
        "feature",
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_good",
        "n_bad",
        F.floor(F.col("woe") * 1000000.0).cast("bigint").alias("woe_u6"),
        "iv_u6",
    )


# ---------------------------------------------------------------------------
# DSIR at ingest — the frozen-index inference shape: the target/raw
# bucket-count tables are PERSISTED parquet indexes (additive, the
# BM25-term-index maintenance law) and each new crawl batch scores
# with one explode + one equi-join on bucket; the reference corpora
# are never rescanned. The batch can contain bigrams no reference
# ever saw — both count joins go LEFT with +1 smoothing.
# ---------------------------------------------------------------------------
DSIR_NEW_PCT = 10  # doc_id hash bucket (salt 'dsirnb') < 10 → the new batch


def _dsir_new_batch_oracle() -> str:
    from ..operators.sampling import sql_hash_bucket
    from ..operators.textanalysis import DSIR_BUCKETS

    b = DSIR_BUCKETS
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    bg = (
        "unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), "
        "i -> t[i] || ' ' || t[i+1]))"
    )
    bucket = f"(CAST('0x' || substr(md5('dsir' || bg), 1, 8) AS BIGINT) % {b})"
    is_new = f"{sql_hash_bucket('doc_id', salt='dsirnb')} < {DSIR_NEW_PCT}"
    return f"""
    WITH corpus AS (SELECT doc_id, text, n_chars FROM documents
                    WHERE NOT ({is_new})),
    batch AS (SELECT doc_id, text FROM documents WHERE {is_new}),
    tg0 AS (SELECT {toks} AS t FROM corpus
            WHERE n_chars >= {DSIR_TGT_MIN_CHARS}),
    tg AS (SELECT {bg} AS bg FROM tg0),
    ct AS (SELECT {bucket} AS bucket, COUNT(*)::BIGINT AS c_t
           FROM tg GROUP BY 1),
    cr0 AS (SELECT {toks} AS t FROM corpus),
    crb AS (SELECT {bg} AS bg FROM cr0),
    cr AS (SELECT {bucket} AS bucket, COUNT(*)::BIGINT AS c_r
           FROM crb GROUP BY 1),
    bt0 AS (SELECT doc_id, {toks} AS t FROM batch),
    bt AS (SELECT doc_id, {bg} AS bg FROM bt0),
    tf AS (SELECT doc_id, {bucket} AS bucket, COUNT(*)::BIGINT AS tf_l
           FROM bt GROUP BY 1, 2),
    tot AS (SELECT (SELECT COALESCE(SUM(c_t), 0) FROM ct)::BIGINT AS n_t,
                   (SELECT COALESCE(SUM(c_r), 0) FROM cr)::BIGINT AS n_r),
    c AS (SELECT tf.doc_id, tf.bucket, tf.tf_l,
                 CAST(tf.tf_l AS DOUBLE) * ln(
                   CAST((COALESCE(ct.c_t, 0) + 1) * (tot.n_r + {b}) AS DOUBLE)
                   / CAST((COALESCE(cr.c_r, 0) + 1) * (tot.n_t + {b}) AS DOUBLE))
                   AS w
          FROM tf LEFT JOIN cr USING (bucket) LEFT JOIN ct USING (bucket)
          CROSS JOIN tot),
    s AS (SELECT doc_id, SUM(tf_l)::BIGINT AS n_bigrams,
                 list_sum(list(w ORDER BY bucket)) AS logw
          FROM c GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(s.n_bigrams, 0)::BIGINT AS n_bigrams,
           CASE WHEN s.n_bigrams > 0
                THEN CAST(FLOOR(s.logw * 1000000.0) AS BIGINT) END AS logw_u6,
           (CASE WHEN s.n_bigrams > 0
                      AND CAST(FLOOR(s.logw * 1000000.0) AS BIGINT) >= 0
                 THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM batch d LEFT JOIN s USING (doc_id)
    """


@query("dsir_new_batch", _dsir_new_batch_oracle())
def q_dsir_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for a NEW crawl batch (doc_id hash
    bucket < {DSIR_NEW_PCT}, salt 'dsirnb') scored against PERSISTED
    target/raw bucket-count indexes built from the corpus slice and
    written to parquet — the inference shape: the batch explodes
    once and scores via one equi-join on bucket; the corpus is never
    re-exploded in the scoring path (plan-pinned). Indexes are
    additive (dsir_bucket_counts), so ingest maintenance is the BM25
    term-index law: gram the batch, sum-merge. Oracle recomputes
    distributions + scores from scratch, so the hash match proves
    frozen-index scoring == the from-scratch definition."""
    import os

    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import (
        dsir_bucket_counts,
        dsir_score_against_counts,
    )
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id", salt="dsirnb") < DSIR_NEW_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    idx_dir = _run_scoped_index_dir("dsir")
    tgt_path = os.path.join(idx_dir, "dsir_target_counts")
    raw_path = os.path.join(idx_dir, "dsir_raw_counts")
    write_parquet(
        dsir_bucket_counts(
            corpus.filter(F.col("n_chars") >= DSIR_TGT_MIN_CHARS), out_col="c_t"
        ),
        tgt_path,
    )
    write_parquet(dsir_bucket_counts(corpus, out_col="c_r"), raw_path)
    tgt = spark.read.parquet(tgt_path)
    raw = spark.read.parquet(raw_path)

    s = dsir_score_against_counts(batch, tgt, raw)
    logw_u6 = F.floor(F.col("logw") * F.lit(1000000.0)).cast("bigint")
    scored = s.select(
        "doc_id",
        "n_bigrams",
        F.when(F.col("n_bigrams") > 0, logw_u6).alias("logw_u6"),
    )
    return (
        batch.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            "logw_u6",
            F.when(
                F.col("n_bigrams").isNotNull()
                & (F.col("n_bigrams") > 0)
                & (F.col("logw_u6") >= 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR forget — the newest standing index gets the same
# right-to-be-forgotten inverse as every sibling (CMS grid, BM25
# terms, vocabulary, quantile histogram): bucket counts are additive,
# so deletion is exact subtraction of the deleted docs' gram counts —
# cost ∝ deleted docs, never the corpus; zeroed buckets drop so the
# maintained index is row-identical to a rebuild from kept docs.
# ---------------------------------------------------------------------------
DSIR_FORGET_PCT = 5  # corpus docs with hash bucket (salt 'dsirfg') < 5 deleted


def _dsir_forget_oracle() -> str:
    from ..operators.sampling import sql_hash_bucket
    from ..operators.textanalysis import DSIR_BUCKETS

    b = DSIR_BUCKETS
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    bg = (
        "unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), "
        "i -> t[i] || ' ' || t[i+1]))"
    )
    bucket = f"(CAST('0x' || substr(md5('dsir' || bg), 1, 8) AS BIGINT) % {b})"
    is_new = f"{sql_hash_bucket('doc_id', salt='dsirnb')} < {DSIR_NEW_PCT}"
    is_del = f"{sql_hash_bucket('doc_id', salt='dsirfg')} < {DSIR_FORGET_PCT}"
    return f"""
    WITH kept AS (SELECT doc_id, text FROM documents
                  WHERE NOT ({is_new}) AND NOT ({is_del})),
    k0 AS (SELECT {toks} AS t FROM kept),
    kb AS (SELECT {bg} AS bg FROM k0)
    SELECT {bucket} AS bucket, COUNT(*)::BIGINT AS c_r FROM kb GROUP BY 1
    """


@query("dsir_forget", _dsir_forget_oracle())
def q_dsir_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the persisted DSIR raw-count index:
    the corpus index (written to parquet, read back) minus the
    deleted slice's own gram counts — one explode over the DELETED
    docs only plus a left join over index rows; zero-count buckets
    drop. The oracle rebuilds from kept docs from scratch, so the
    hash match proves maintained-minus == rebuilt (the additive-index
    forget law shared with CMS/BM25/vocabulary/histogram)."""
    import os

    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import dsir_bucket_counts
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(~(hash_bucket("doc_id", salt="dsirnb") < DSIR_NEW_PCT))
    deleted = corpus.filter(hash_bucket("doc_id", salt="dsirfg") < DSIR_FORGET_PCT)

    idx_path = os.path.join(_run_scoped_index_dir("dsirfg"), "dsir_raw_counts")
    write_parquet(dsir_bucket_counts(corpus, out_col="c_r"), idx_path)
    idx = spark.read.parquet(idx_path)

    dc = dsir_bucket_counts(deleted, out_col="c_d")
    return (
        idx.join(dc, "bucket", "left")
        .select(
            "bucket",
            (F.col("c_r") - F.coalesce(F.col("c_d"), F.lit(0)))
            .cast("bigint")
            .alias("c_r"),
        )
        .filter(F.col("c_r") > 0)
    )


# ---------------------------------------------------------------------------
# Link prediction — the MISSING-edge member of the graph family: PPR
# ranks nodes around a seed, association rules score observed pairs;
# link prediction scores pairs that SHARE neighbors but never
# co-occurred — "bought X also bought Y, but X and Y were never in
# one basket yet". Common-neighbor count is exact-integer;
# Adamic-Adar folds 1/ln(deg) center-sorted (float-sum discipline).
# ---------------------------------------------------------------------------
LINKPRED_TOP = 25


_LINKPRED_ORACLE = f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      WHERE c >= {TRI_MIN_SUPPORT}),
    sym AS (SELECT u AS z, v AS n FROM e UNION ALL SELECT v AS z, u AS n FROM e),
    deg AS (SELECT z, COUNT(*)::BIGINT AS d FROM sym GROUP BY z),
    adj AS (SELECT sym.z, sym.n, deg.d FROM sym JOIN deg USING (z)),
    w AS (SELECT a.n AS u, b.n AS v, a.z, a.d
          FROM adj a JOIN adj b ON a.z = b.z AND a.n < b.n),
    ow AS (SELECT w.u, w.v, w.z, w.d FROM w
           LEFT JOIN e ON e.u = w.u AND e.v = w.v
           WHERE e.u IS NULL),
    s AS (SELECT u, v, COUNT(*)::BIGINT AS cn,
                 list_sum(list(1.0 / ln(CAST(d AS DOUBLE)) ORDER BY z)) AS aa
          FROM ow GROUP BY u, v),
    r AS (SELECT u, v, cn,
                 CAST(FLOOR(aa * 1000000.0) AS BIGINT) AS aa_u6,
                 ROW_NUMBER() OVER (
                   ORDER BY cn DESC, CAST(FLOOR(aa * 1000000.0) AS BIGINT) DESC,
                            u, v) AS rk
          FROM s)
    SELECT u AS part_a, v AS part_b, cn, aa_u6, rk::BIGINT AS rk
    FROM r WHERE rk <= {LINKPRED_TOP}
    """


@query("copurchase_link_prediction", _LINKPRED_ORACLE)
def q_copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LINKPRED_TOP} predicted missing edges of the
    support-pruned co-purchase graph by (common neighbors,
    Adamic-Adar) — operators/clusters.py::link_prediction_scores (see
    its docstring for the wedge-minus-edge candidate generation, the
    ln(deg) > 0 guarantee and the hub_cap lever; the fixture graph is
    support-pruned so no cap is needed here). aa_u6 floors the
    center-sorted fold; ranking ties break (cn, aa_u6, u, v) —
    fully deterministic, hash-matched."""
    from ..operators.clusters import link_prediction_scores
    from ..operators.reshape import top_k

    edges = copurchase_pairs(spark, sf_dir).select("u", "v")
    s = link_prediction_scores(edges).select(
        "u", "v", "cn",
        F.floor(F.col("aa") * 1000000.0).cast("bigint").alias("aa_u6"),
    )
    ranked = top_k(
        s, [],
        [F.col("cn").desc(), F.col("aa_u6").desc(), F.col("u"), F.col("v")],
        LINKPRED_TOP, "rk",
    )
    return ranked.select(
        F.col("u").alias("part_a"), F.col("v").alias("part_b"),
        "cn", "aa_u6", F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# k-core — the dense-subgraph graph member: triangles measure LOCAL
# density, the k-core is the maximal subgraph where EVERY member
# keeps ≥ k ties (the engagement/robustness cut: parts that stay
# strongly co-purchased even after fringe products peel away).
# Fixed peeling rounds keep it declarative and the oracle an
# unrolled CTE chain; convergence at fixture scale is pinned in
# pytest by an extra-round equality.
# ---------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS MATERIALIZED (
              SELECT node, COUNT(*)::BIGINT AS d FROM (
                SELECT u AS node FROM {prev}
                UNION ALL SELECT v AS node FROM {prev})
              GROUP BY node),
            k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
            e{i} AS MATERIALIZED (
              SELECT e.u, e.v FROM {prev} e
              JOIN k{i} a ON a.node = e.u
              JOIN k{i} b ON b.node = e.v)"""
        )
        prev = f"e{i}"
    return f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      WHERE c >= {TRI_MIN_SUPPORT}),
    {", ".join(rounds)}
    SELECT node AS part_key, COUNT(*)::BIGINT AS degree FROM (
      SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
    GROUP BY node
    """


@query("copurchase_kcore", _kcore_oracle())
def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the support-pruned co-purchase graph after
    {KCORE_ROUNDS} peeling rounds (operators/clusters.py::kcore_peel
    — see its docstring for the convergence and cluster-scale notes):
    parts that stay ≥{KCORE_K}-way co-purchased even after fringe
    products cascade away, with their in-core degree. Exact-integer;
    the oracle unrolls the peel as MATERIALIZED CTEs."""
    from ..operators.clusters import kcore_peel

    edges = copurchase_pairs(spark, sf_dir).select("u", "v")
    return kcore_peel(edges, KCORE_K, KCORE_ROUNDS).select(
        F.col("node").alias("part_key"), "degree"
    )


