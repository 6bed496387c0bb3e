"""Source-priority keep-lists, label propagation, incremental/merge-only cluster maintenance, product quantization, corpus vocabulary.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from ..operators.similarity import EMBED_DIM as _EMBED_DIM, PQ_SUB_DIM as _PQ_SUB_DIM  # noqa: E402
from .w02_dedup import NEW_BATCH_PCT, _minhash_pairs_ctes, _run_scoped_index_dir  # noqa: E402


# ---------------------------------------------------------------------------
# Source-priority dedup keep-list: among duplicates, keep the copy from
# the most trusted source (curated > crawl), not the arbitrary min id.
# Priorities here model a curated-source ranking over the fixture's
# uniform src0..src19; production passes its own ranking expression.
# ---------------------------------------------------------------------------
_SOURCE_PRIORITY_SQL = (
    "CASE WHEN source = 'src19' THEN 0 WHEN source = 'src7' THEN 1 ELSE 2 END"
)


@query(
    "dedup_keep_by_source",
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
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    pr AS (SELECT doc_id, {_SOURCE_PRIORITY_SQL} AS prio FROM documents),
    j AS (SELECT c.node AS doc_id, c.component, p.prio
          FROM comp c JOIN pr p ON p.doc_id = c.node),
    k AS (SELECT doc_id, component, prio,
                 ROW_NUMBER() OVER (PARTITION BY component
                                    ORDER BY prio, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY component) AS n_members
          FROM j)
    SELECT doc_id, component, n_members::BIGINT AS n_members,
           (CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM k
    """,
)
def q_dedup_keep_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list over the SAME duplicate graph as dedup_clusters /
    corpus_dedup_pipeline (exact-dup edges ∪ MinHash near-dup pairs),
    but the per-cluster keeper is argmin (source_priority, doc_id)
    via operators/clusters.py::dedup_keep_list_by_priority — the
    curated copy survives, the crawl copy is dropped; a constant
    priority degrades to the min-id rule exactly. The recursive oracle
    replicates graph, priorities, and tie-break."""
    from ..operators.clusters import dedup_keep_list_by_priority

    docs = load_table(spark, sf_dir, "documents")
    near = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = near.unionByName(exact_dup_edges(docs))
    prio = (
        F.when(F.col("source") == "src19", 0)
        .when(F.col("source") == "src7", 1)
        .otherwise(2)
    )
    return dedup_keep_list_by_priority(docs, edges, prio)


# ---------------------------------------------------------------------------
# Semi-supervised label propagation (operators/clusters.py::
# label_propagation): stretch a small labeled slice across the
# duplicate graph — near-duplicates of a labeled doc share the labeled
# property, so the graph teaches. Third member of the iterative family
# (connected components, BPE training); fixed rounds keep the oracle
# expressible as unrolled MATERIALIZED CTEs (the BPE lesson — an
# un-materialized CTE referenced per round inlines exponentially).
# ---------------------------------------------------------------------------
LPROP_SEED_PCT = 40  # doc_id hash bucket (salt 'lab') < 40 are labeled
LPROP_THRESHOLD = 300  # seed label = [n_chars >= 300] (fixture median ~311)
LPROP_ROUNDS = 2


def _lprop_oracle() -> str:
    rounds = []
    prev = "l0"
    for t in range(1, LPROP_ROUNDS + 1):
        rounds.append(f"""
    v{t} AS (SELECT e.v AS node, l.lab FROM edges e JOIN {prev} l ON l.node = e.u
           WHERE e.v NOT IN (SELECT node FROM {prev})),
    c{t} AS (SELECT node, lab, COUNT(*) AS c FROM v{t} GROUP BY node, lab),
    p{t} AS (SELECT node, lab FROM (
             SELECT node, lab,
                    ROW_NUMBER() OVER (PARTITION BY node
                                       ORDER BY c DESC, lab) AS rn
             FROM c{t}) WHERE rn = 1),
    l{t} AS MATERIALIZED (SELECT * FROM {prev}
           UNION ALL SELECT node, lab, {t} AS rnd FROM p{t})""")
        prev = f"l{t}"
    return f"""
    WITH {_minhash_pairs_ctes()},
    fp AS (SELECT doc_id,
                  md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
           FROM documents),
    freps AS (SELECT fp, MIN(doc_id) AS rep FROM fp GROUP BY fp),
    edges0 AS (
        SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= {JACCARD_THRESHOLD}
        UNION
        SELECT f.rep AS doc_a, p.doc_id AS doc_b
        FROM fp p JOIN freps f USING (fp) WHERE p.doc_id <> f.rep),
    edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM edges0
              UNION
              SELECT doc_b AS u, doc_a AS v FROM edges0),
    l0 AS MATERIALIZED (SELECT doc_id AS node,
                 CASE WHEN n_chars >= {LPROP_THRESHOLD} THEN 1 ELSE 0 END AS lab,
                 0 AS rnd
          FROM documents
          WHERE {sql_hash_bucket("doc_id", salt="lab")} < {LPROP_SEED_PCT}),
    {",".join(rounds)}
    SELECT node AS doc_id, lab::BIGINT AS label, rnd::BIGINT AS rnd
    FROM {prev}
    """


@query("quality_label_propagation", _lprop_oracle())
def q_quality_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{LPROP_ROUNDS}-round clamped-seed majority label propagation
    over the production duplicate graph (capped MinHash pairs ∪
    exact-dup edges — the dedup_keep_by_source graph): the stable
    {LPROP_SEED_PCT}% hash slice is labeled by a literal length rule
    and every unlabeled node adjacent to labeled ones adopts the
    integer-majority label per round (ties → smaller label, seeds
    clamped, synchronous updates). Output (doc_id, label, rnd) for
    every node labeled by round {LPROP_ROUNDS}; unreached nodes stay
    absent. All-integer votes make the whole propagation
    hash-oracle-checked against the unrolled SQL twin — per round one
    node-keyed join + count + struct-min, never anything pairwise
    beyond the LSH-bucketed candidate stage."""
    from ..operators.clusters import label_propagation
    from ..operators.dedup import exact_dup_edges, minhash_candidates
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    near = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = (
        near.select("doc_a", "doc_b")
        .unionByName(exact_dup_edges(docs).select("doc_a", "doc_b"))
        .distinct()
    )
    seeds = docs.filter(
        hash_bucket("doc_id", salt="lab") < LPROP_SEED_PCT
    ).select(
        F.col("doc_id").alias("node"),
        F.when(F.col("n_chars") >= LPROP_THRESHOLD, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("lab"),
    )
    out = label_propagation(seeds, edges, LPROP_ROUNDS)
    return out.select(
        F.col("node").alias("doc_id"),
        F.col("lab").cast("bigint").alias("label"),
        F.col("rnd").cast("bigint").alias("rnd"),
    )


# ---------------------------------------------------------------------------
# Incremental cluster maintenance: a new batch's duplicate edges merge
# into PERSISTED cluster labels — only affected components re-label;
# the corpus is never re-clustered. Completes the incremental family
# (exact / MinHash / ANN / clusters). Uncapped LSH on both sides so
# incremental == full recompute EXACTLY (the cap story is covered by
# the capped queries; capping would make corpus-time and union-time
# bucket sizes diverge).
# ---------------------------------------------------------------------------
# Shared by dedup_clusters_new_batch (end-to-end: builds the label
# index INSIDE the timed body — the write+probe round-trip contract)
# and dedup_clusters_merge_only (fixture-style: index pre-built via
# PREPARES, the timed body is just the batch-proportional probe+merge).
# The oracle is always the FULL-corpus recompute, so a hash match on
# either proves incremental == from-scratch.
def _clusters_full_recompute_sql(src: str = "documents", prelude: str = "") -> str:
    """Full-corpus keep-list recompute (uncapped exact∪MinHash graph +
    WITH RECURSIVE reachability) over relation ``src`` — ``prelude``
    injects extra leading CTEs (e.g. the forget-flow's filtered
    corpus)."""
    return f"""
    WITH RECURSIVE {prelude}{_minhash_pairs_ctes(bucket_cap=None, src=src)},
    fp AS (SELECT doc_id,
                  md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
           FROM {src}),
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
        SELECT doc_id, doc_id FROM {src}
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    sizes AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
    SELECT c.node AS doc_id, c.component,
           s.n_members::BIGINT AS n_members,
           (c.node = c.component)::BIGINT AS keep
    FROM comp c JOIN sizes s USING (component)
    """


_CLUSTERS_FULL_RECOMPUTE_SQL = _clusters_full_recompute_sql()


@query("dedup_clusters_new_batch", _CLUSTERS_FULL_RECOMPUTE_SQL)
def q_dedup_clusters_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance end-to-end: cluster the 90%
    "corpus" slice (uncapped LSH ∪ exact edges), WRITE the label table
    to parquet, read it back, then merge the 10% "new batch" in via
    operators/clusters.py::incremental_dedup_clusters — batch edges
    come from the incremental exact + MinHash probes, only affected
    components re-label, untouched labels pass through from the index.
    Output is the updated keep-list for corpus ∪ batch; the oracle is
    the FULL-corpus recompute, so the hash match proves
    incremental == from-scratch."""
    import os

    from ..operators.clusters import connected_components, incremental_dedup_clusters
    from ..operators.dedup import (
        exact_fingerprint_index,
        incremental_exact_dedup,
        incremental_minhash_candidates,
        minhash_signature_index,
    )
    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    # "persisted" label table for the corpus slice (same graph recipe
    # as dedup_clusters, uncapped)
    corpus_near = minhash_candidates(
        corpus, bucket_cap=None, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    corpus_edges = corpus_near.unionByName(exact_dup_edges(corpus))
    comps = connected_components(corpus_edges)
    labels = (
        corpus.select(F.col("doc_id").alias("node"))
        .join(comps, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )
    base = _run_scoped_index_dir("cluster_index")
    write_parquet(labels, os.path.join(base, "labels"))
    index_labels = spark.read.parquet(os.path.join(base, "labels"))

    # batch-touching edges from the incremental probes (corpus never
    # re-shingled beyond the signature index build)
    bands, shingles = minhash_signature_index(corpus)
    near_new = incremental_minhash_candidates(
        batch, bands, shingles, bucket_cap=None
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    exact_new = (
        incremental_exact_dedup(batch, exact_fingerprint_index(corpus))
        .filter(F.col("rep_id") != F.col("doc_id"))
        .select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    updated = incremental_dedup_clusters(
        index_labels,
        near_new.select("doc_a", "doc_b").unionByName(exact_new),
        new_nodes=batch.select(F.col("doc_id").alias("node")),
    )
    sizes = updated.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return updated.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        "component",
        "n_members",
        (F.col("node") == F.col("component")).cast("bigint").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Merge-only twin of dedup_clusters_new_batch: the corpus label table
# and signature/fingerprint indexes are built ONCE outside the timed
# body (PREPARES fixture — in a real pipeline they already exist,
# amortized across ingests), so the bench shows the per-ingest
# incremental cost next to the 9-10 s end-to-end contract query.
# ---------------------------------------------------------------------------
_CLUSTER_MERGE_FIXTURE: dict[str, dict[str, str]] = {}


def _prepare_cluster_merge_index(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Persist the 90%-corpus cluster labels + MinHash signature index
    + exact fingerprint index, memoized per (process, sf_dir) — the
    exact artifacts dedup_clusters_new_batch builds inside its timed
    body."""
    got = _CLUSTER_MERGE_FIXTURE.get(sf_dir)
    if got is not None:
        return got
    import os

    from ..operators.clusters import connected_components
    from ..operators.dedup import exact_fingerprint_index, minhash_signature_index
    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(~(hash_bucket("doc_id") < NEW_BATCH_PCT))
    corpus_near = minhash_candidates(
        corpus, bucket_cap=None, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    corpus_edges = corpus_near.unionByName(exact_dup_edges(corpus))
    comps = connected_components(corpus_edges)
    labels = (
        corpus.select(F.col("doc_id").alias("node"))
        .join(comps, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )
    base = _run_scoped_index_dir("cluster_merge_fixture")
    paths = {k: os.path.join(base, k) for k in ("labels", "bands", "shingles", "fps")}
    write_parquet(labels, paths["labels"])
    bands, shingles = minhash_signature_index(corpus)
    write_parquet(bands, paths["bands"])
    write_parquet(shingles, paths["shingles"])
    write_parquet(exact_fingerprint_index(corpus), paths["fps"])
    _CLUSTER_MERGE_FIXTURE[sf_dir] = paths
    return paths


PREPARES["dedup_clusters_merge_only"] = _prepare_cluster_merge_index


@query("dedup_clusters_merge_only", _CLUSTERS_FULL_RECOMPUTE_SQL)
def q_dedup_clusters_merge_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized incremental-clusters cost: labels + signature +
    fingerprint indexes come PRE-BUILT from parquet (PREPARES fixture;
    a real pipeline owns them across ingests), and the query body is
    only what every ingest pays — sign the 10% batch map-only, probe
    the persisted indexes (equi-joins), star-edge-contract the affected
    components (operators/clusters.py::incremental_dedup_clusters),
    pass untouched labels through. Cost ∝ batch, not corpus. Same
    full-recompute oracle as dedup_clusters_new_batch: the hash match
    proves the merge-only path equals from-scratch clustering."""
    from ..operators.clusters import incremental_dedup_clusters
    from ..operators.dedup import (
        incremental_exact_dedup,
        incremental_minhash_candidates,
    )
    from ..operators.sampling import hash_bucket

    from ..sources.parquet import read_parquet_immutable

    paths = _prepare_cluster_merge_index(spark, sf_dir)
    index_labels = read_parquet_immutable(spark, paths["labels"])
    bands = read_parquet_immutable(spark, paths["bands"])
    shingles = read_parquet_immutable(spark, paths["shingles"])
    fps = read_parquet_immutable(spark, paths["fps"])

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(hash_bucket("doc_id") < NEW_BATCH_PCT)
    near_new = incremental_minhash_candidates(
        batch, bands, shingles, bucket_cap=None
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    exact_new = (
        incremental_exact_dedup(batch, fps)
        .filter(F.col("rep_id") != F.col("doc_id"))
        .select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    updated = incremental_dedup_clusters(
        index_labels,
        near_new.select("doc_a", "doc_b").unionByName(exact_new),
        new_nodes=batch.select(F.col("doc_id").alias("node")),
    )
    sizes = updated.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return updated.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        "component",
        "n_members",
        (F.col("node") == F.col("component")).cast("bigint").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Product quantization: 64 floats -> 8 sub-space codes (32x smaller
# than float64 storage). Codebooks are deterministic label-mean
# subvector centroids (6dp — same cross-engine posture as the IVF
# label-mean quantizer); per-subspace assignment is argmin
# (9dp squared L2, label index). The oracle recomputes codebooks AND
# assignments from scratch in SQL, so the hash match covers the whole
# train+encode pipeline. Codes serialize as 'c0-c1-...-c7' (the
# compare machinery hashes scalar columns).
# ---------------------------------------------------------------------------
def _pq_ctes(src: str = "embeddings", vec: str = "embedding", head: str = "") -> str:
    """Shared PQ oracle CTE chain (codebooks → scored → chosen);
    embedding_pq_codes and ann_pq_adc_topk extend it over the raw
    ``embeddings`` table; ``src``/``vec`` re-target it at another CTE
    (``head`` = extra leading CTEs, trailing comma included). NOTE:
    this float chain is only cross-engine-safe over CONTINUOUS input
    coordinates — after a rounding stage (a rotation), use the
    micro-unit integer chain (ann_rot_pq_adc_topk) instead. A second,
    milder latent class: the DISPLAY rounds (adc 9dp→6dp, mse /64 then
    6dp) re-round values that already live on a 1e-9 lattice, which
    sits on a 6dp half-boundary for ~0.1% of values; the shipped
    fixtures are byte-stable across rounds (hash-verified green every
    round), so this cannot flake here, but a regenerated dataset
    should move these outputs to raw-9dp / integer nano-units exactly
    as the rot/containment/calibration queries already do."""
    from ..operators.similarity import PQ_M, PQ_SUB_DIM

    cb_selects = " UNION ALL ".join(
        f"SELECT {s} AS s, label, ["
        + ", ".join(
            f"ROUND(AVG(CAST({vec}[{s * PQ_SUB_DIM + i + 1}] AS DOUBLE)), 6)"
            for i in range(PQ_SUB_DIM)
        )
        + f"] AS centroid FROM {src} GROUP BY label"
        for s in range(PQ_M)
    )
    return f"""
    WITH {head}cb AS ({cb_selects}),
    lab AS (SELECT s, label, centroid,
                   ROW_NUMBER() OVER (PARTITION BY s ORDER BY label) - 1 AS k
            FROM cb),
    scored AS (SELECT e.vec_id, c.s, c.k,
                      ROUND(list_sum(list_transform(range(1, {PQ_SUB_DIM + 1}),
                            i -> (CAST(e.{vec}[CAST(c.s * {PQ_SUB_DIM} AS INT) + CAST(i AS INT)] AS DOUBLE)
                                  - c.centroid[CAST(i AS INT)]) ^ 2)), 9) AS d
               FROM {src} e, lab c),
    ranked AS (SELECT vec_id, s, k, d,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                         ORDER BY d, k) AS rn
               FROM scored),
    chosen AS (SELECT vec_id, s, k AS code, d FROM ranked WHERE rn = 1)"""


@query(
    "embedding_pq_codes",
    _pq_ctes()
    + f"""
    SELECT vec_id,
           array_to_string(array_agg(code ORDER BY s), '-') AS codes,
           ROUND(SUM(d) / {_EMBED_DIM}, 6) AS mse
    FROM chosen GROUP BY vec_id
    """,
)
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ train + encode end-to-end: label-mean codebooks (collected to
    the driver — M·K·8 floats are the model, same contract as the
    KMeans centers) inlined into a pure map-side encode expression
    (operators/similarity.py::pq_encode_exprs — zero shuffles, inside
    whole-stage codegen). Output: (vec_id, codes 'c0-...-c7', mse).
    The 8 int codes replace 64 floats — 32× storage cut; mse is the
    reconstruction error the compression costs, hash-checked so both
    engines agree on every single assignment."""
    from ..operators.similarity import pq_codebooks_label_mean, pq_encode_exprs

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_codebooks_label_mean(emb)
    codes, mse = pq_encode_exprs(codebooks)
    return spread(emb).select(
        "vec_id",
        F.concat_ws("-", F.transform(codes, lambda c: c.cast("string"))).alias(
            "codes"
        ),
        mse.alias("mse"),
    )


@query(
    "ann_pq_adc_topk",
    _pq_ctes()
    + f"""
    , qv AS (SELECT vec_id AS query_id, embedding FROM embeddings
             WHERE vec_id < {ANN_QUERY_LIMIT}),
    adc AS (SELECT q.query_id, ch.vec_id AS neighbor_id,
                   ROUND(SUM(ROUND(list_sum(list_transform(range(1, {_PQ_SUB_DIM + 1}),
                         i -> (CAST(q.embedding[CAST(ch.s * {_PQ_SUB_DIM} AS INT) + CAST(i AS INT)] AS DOUBLE)
                               - l.centroid[CAST(i AS INT)]) ^ 2)), 9)), 9) AS adc
            FROM qv q
            JOIN chosen ch ON q.query_id <> ch.vec_id
            JOIN lab l ON l.s = ch.s AND l.k = ch.code
            GROUP BY q.query_id, ch.vec_id),
    rk AS (SELECT query_id, neighbor_id, adc,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc, neighbor_id) AS rank
           FROM adc)
    SELECT query_id, neighbor_id, ROUND(adc, 6) AS adc, rank::BIGINT AS rank
    FROM rk WHERE rank <= {ANN_K}
    """,
)
def q_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: the corpus side is ONLY
    (vec_id, 8 codes) — 32× smaller than the float vectors — and the
    query's exact subvectors score against the codes' centroids via
    literal-codebook lookup (operators/similarity.py::pq_adc_dist_expr).
    Ranking by (adc asc, neighbor id). The oracle recomputes codebooks,
    assignments, and asymmetric distances from scratch — the hash match
    covers the entire compressed-search path. At 100 TB the codes table
    is what lives in memory; this query is the search shape that makes
    PQ worth training."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        pq_adc_dist_expr,
        pq_codebooks_label_mean,
        pq_encode_exprs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_codebooks_label_mean(emb)
    codes, _ = pq_encode_exprs(codebooks)
    corpus_codes = spread(emb).select("vec_id", codes.alias("codes"))
    q = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    pairs = corpus_codes.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
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
# Corpus vocabulary: the tokenizer-training prep table — per-token
# document frequency + occurrence counts, deterministic top-K. Scale
# shape: explode is map-side; the groupBy benefits from partial
# (map-side) aggregation, so a hot token ('the' in 80% of docs) is
# pre-collapsed per partition and never concentrates a reducer the way
# an un-combined shuffle would.
# ---------------------------------------------------------------------------
VOCAB_TOP_K = 200


@query(
    "corpus_vocabulary",
    f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
               FROM documents),
    c AS (SELECT token,
                 COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
                 COUNT(*)::BIGINT AS n_occurrences
          FROM t WHERE token <> '' GROUP BY token),
    r AS (SELECT token, n_docs, n_occurrences,
                 ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS rank
          FROM c)
    SELECT token, n_docs, n_occurrences, rank::BIGINT AS rank
    FROM r WHERE rank <= {VOCAB_TOP_K}
    """,
)
def q_corpus_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_TOP_K} corpus vocabulary by occurrence count (ties by
    token): (token, n_docs, n_occurrences, rank). One explode + one
    combined groupBy (count + count-distinct-doc partial-aggregate
    map-side), then TakeOrderedAndProject for the top-K — no global
    sort materializes the full vocabulary. The whitespace tokenizer
    matches tokens()/token_count semantics (empty tokens from repeated
    spaces dropped)."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    # orderBy+limit plans TakeOrderedAndProject (distributed per-partition
    # top-K + merge); ranking a global row_number window instead would
    # funnel the ENTIRE vocabulary through one partition
    topk = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return topk.select(
        "token",
        "n_docs",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


