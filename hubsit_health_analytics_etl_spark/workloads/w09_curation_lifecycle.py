"""Right-to-be-forgotten, model-based quality scoring, end-to-end curation pipeline, vector-index forget, SCD2 history, shard plan, BPE trainer.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w01_windows_text import KEEP_MAX_TOKENS, KEEP_MIN_QUALITY, KEEP_MIN_TOKENS, _SQL_QUALITY_SCORE, _sql_doc_annotations, _sql_quality_cte  # noqa: E402
from .w02_dedup import DECON_DF_CAP, DECON_EVAL_PCT, DECON_K, _decon_ctes, _minhash_pairs_ctes, _run_scoped_index_dir  # noqa: E402
from .w05_clusters_ann import ANN_NEW_PCT, _ann_incremental_oracle  # noqa: E402
from .w07_cluster_maintenance import _clusters_full_recompute_sql  # noqa: E402
from .w08_ann_composites import SPLIT_TEST_PCT  # noqa: E402


# ---------------------------------------------------------------------------
# Right-to-be-forgotten: delete a doc list from the corpus AND from
# the persisted cluster index, re-labelling only the affected
# components (operators/clusters.py::forget_documents — deletion can
# SPLIT a component at a cut vertex, so the real persisted pair table
# is re-read for the affected subgraph; star contraction can't serve
# deletes). The fixture's persisted pair table is built WITHOUT the
# exact-dup representative collapse: with collapse, near-dup edges
# attach only to the group's min-id rep, and forgetting the rep would
# orphan its copies (the survivor⋈survivor edge (copy, neighbor) never
# existed). Uncollapsed, identical copies pair with each other and
# with every near neighbor directly (identical shingles → identical
# signatures → same buckets, jaccard 1.0), so the edge set is
# DELETION-CLOSED and the forget flow equals a from-scratch recompute
# on the filtered corpus — which is exactly the oracle, so the hash
# match proves it.
# ---------------------------------------------------------------------------
FORGET_PCT = 5  # stable hash-selected 5% of doc ids get forgotten

_FORGET_FIXTURE: dict[str, dict[str, str]] = {}


def _prepare_forget_index(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Persist the FULL-corpus cluster labels + deletion-closed
    duplicate-pair table, memoized per (process, sf_dir) — the index a
    production pipeline owns before any forget request arrives."""
    got = _FORGET_FIXTURE.get(sf_dir)
    if got is not None:
        return got
    import os

    from ..operators.clusters import connected_components
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    near = minhash_candidates(
        docs, bucket_cap=None, pre_exact_dedup=False
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = near.select("doc_a", "doc_b").unionByName(
        exact_dup_edges(docs).select("doc_a", "doc_b")
    )
    base = _run_scoped_index_dir("forget_fixture")
    paths = {k: os.path.join(base, k) for k in ("labels", "edges")}
    write_parquet(edges, paths["edges"])
    comps = connected_components(spark.read.parquet(paths["edges"]))
    labels = (
        docs.select(F.col("doc_id").alias("node"))
        .join(comps, "node", "left")
        .select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
    )
    write_parquet(labels, paths["labels"])
    _FORGET_FIXTURE[sf_dir] = paths
    return paths


PREPARES["dedup_clusters_forget"] = _prepare_forget_index


@query(
    "dedup_clusters_forget",
    _clusters_full_recompute_sql(
        src="kept",
        prelude=(
            "kept AS (SELECT * FROM documents "
            f"WHERE {sql_hash_bucket('doc_id', salt='forget')} >= {FORGET_PCT}),\n    "
        ),
    ),
)
def q_dedup_clusters_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forget-flow keep-list: the stable {FORGET_PCT}% forget-list is
    deleted from the persisted labels + pair table (PREPARES fixture),
    only its components re-label from the surviving real edges, and the
    output is the updated per-document keep-list. Oracle = from-scratch
    clustering of the corpus minus the forget-list: the hash match
    proves forget-propagation == full recompute (splits at cut
    vertices, keeper re-election, singleton fallout and all)."""
    from ..operators.clusters import forget_documents
    from ..operators.sampling import hash_bucket

    from ..sources.parquet import read_parquet_immutable

    paths = _prepare_forget_index(spark, sf_dir)
    labels = read_parquet_immutable(spark, paths["labels"])
    edges = read_parquet_immutable(spark, paths["edges"])
    docs = load_table(spark, sf_dir, "documents")
    deleted = docs.filter(
        hash_bucket("doc_id", salt="forget") < FORGET_PCT
    ).select(F.col("doc_id").alias("node"))
    updated = forget_documents(labels, edges, deleted)
    sizes = updated.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return updated.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        "component",
        "n_members",
        (F.col("node") == F.col("component")).cast("bigint").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring (operators/quality_model.py). Two
# queries, one posture split:
#   - doc_quality_logit: FIXED literal weights -> fully oracle-hash-
#     checked. The logit is plain +/* over the feature columns in a
#     pinned evaluation order (IEEE-deterministic cross-engine) and
#     the keep rule is z >= 0 (== p >= 0.5) — exp() never runs, so
#     there is no libm divergence to round away.
#   - doc_quality_trained_model: the REAL distributed Spark ML
#     LogisticRegression bootstrapped from the heuristic keep labels,
#     scored on a held-out hash split via the same literal-logit
#     map-only expression. Rows-only by construction (float reduction
#     order makes trained weights engine-specific — the
#     ann_kmeans_ivf_recall posture); accuracy-vs-baseline bounds are
#     pinned in pytest.
# Weights/feature order live HERE once and are interpolated into both
# engines' expressions — no literal twin to desync.
# ---------------------------------------------------------------------------
QUALITY_LOGIT_W = [8.0, 0.1, -12.0, 0.02]  # swr, mwl, pr, ntok_h
QUALITY_LOGIT_B = -1.5
_QLR_TEST_PCT = 20  # held-out share for the trained model's scorecard
# Label threshold for the trained model: the heuristic score's corpus
# MEDIAN (~0.70 on the fixtures), so both classes are populated and
# majority-class accuracy is a bar worth clearing — the C4 keep floor
# (0.5) labels ~99% of the fixture positive, which a constant model
# matches trivially.
QUALITY_LABEL_THRESHOLD = 0.70


def _sql_logit(cols: list[str]) -> str:
    """Left-associative parenthesization matching logit_expr's tree."""
    z = f"{QUALITY_LOGIT_B}"
    for w, c in zip(QUALITY_LOGIT_W, cols):
        z = f"({z} + ({w} * {c}))"
    return z


@query(
    "doc_quality_logit",
    f"""
    WITH {_sql_quality_cte()}
    SELECT doc_id,
           CAST(floor({_sql_logit(["swr", "mwl", "pr", "(n_tokens / 100.0)"])}
                      * 1000000.0) AS BIGINT) AS logit_u6,
           (CASE WHEN {_sql_logit(["swr", "mwl", "pr", "(n_tokens / 100.0)"])} >= 0
                 THEN 1 ELSE 0 END)::BIGINT AS keep
    FROM f
    """,
)
def q_doc_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-weight linear quality classifier over the raw heuristic
    features — the exact scoring expression a trained model deploys
    (quality_model.logit_expr), map-only inside the scan's codegen
    stage at any corpus size; keep = logit >= 0. The logit is emitted
    as micro-units (floor(z·1e6), exact on identical doubles) — 6dp
    ROUND is implemented differently by the two engines (decimal
    half-up vs scaled-float) and flips boundary rows."""
    from ..operators.quality_model import logit_expr, quality_feature_frame

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_feature_frame(spread(docs))
    z = logit_expr(QUALITY_LOGIT_W, QUALITY_LOGIT_B)
    return feats.select(
        "doc_id",
        F.floor(z * F.lit(1000000.0)).cast("bigint").alias("logit_u6"),
        (z >= 0).cast("bigint").alias("keep"),
    )


# Calibration constants: fixed literal logit range (clamped edges
# catch out-of-range scores -- they ARE the signal) binned in exact
# int64 micro-unit arithmetic; the per-bin predicted probability is
# the sigmoid of the BIN MIDPOINT (a literal), not a float mean over
# an unordered group -- the one formulation whose only cross-engine
# float risk is libm exp's final ulp under the micro-unit floor.
CALIB_BINS = 20
CALIB_Z_MIN_U6 = -5_000_000
CALIB_Z_MAX_U6 = 5_000_000
_CALIB_SPAN = CALIB_Z_MAX_U6 - CALIB_Z_MIN_U6
_CALIB_ZSQL = _sql_logit(["swr", "mwl", "pr", "(n_tokens / 100.0)"])
_CALIB_MID = (
    f"({CALIB_Z_MIN_U6 / 1000000.0} + (bin + 0.5) "
    f"* {_CALIB_SPAN / 1000000.0 / CALIB_BINS})"
)


@query(
    "doc_quality_calibration",
    f"""
    WITH {_sql_quality_cte()}
    , z AS (SELECT doc_id,
                 CAST(floor({_CALIB_ZSQL} * 1000000.0) AS BIGINT) AS z_u6,
                 (CASE WHEN {_SQL_QUALITY_SCORE} >= {QUALITY_LABEL_THRESHOLD}
                       THEN 1 ELSE 0 END) AS pos
          FROM f),
    b AS (SELECT LEAST(GREATEST(z_u6, {CALIB_Z_MIN_U6}), {CALIB_Z_MAX_U6 - 1}) AS zc,
                 pos FROM z),
    g AS (SELECT (zc - ({CALIB_Z_MIN_U6})) * {CALIB_BINS} // {_CALIB_SPAN} AS bin,
                 COUNT(*)::BIGINT AS n, SUM(pos)::BIGINT AS n_pos
          FROM b GROUP BY 1),
    o AS (SELECT bin::BIGINT AS bin, n, n_pos,
                 (n_pos * 1000000 // n)::BIGINT AS obs_rate_u6,
                 CAST(FLOOR((1.0 / (1.0 + exp(-{_CALIB_MID}))) * 1000000.0)
                      AS BIGINT) AS pred_mid_u6
          FROM g)
    SELECT bin, n, n_pos, obs_rate_u6, pred_mid_u6,
           ABS(obs_rate_u6 - pred_mid_u6)::BIGINT AS gap_u6
    FROM o
    """,
)
def q_doc_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n, n_pos, obs_rate_u6, pred_mid_u6, gap_u6): reliability
    table of the deployed literal-logit quality classifier -- the
    ML-ops check that a score of 0.8 means 80%. Docs bin by LOGIT in
    exact int64 micro-unit arithmetic (clamped fixed range, integer
    floor-division -- no float binning to diverge); per bin the
    observed positive rate (exact integer ratio against the heuristic
    label, the same labels the trained model bootstraps from) sits
    next to the predicted probability at the bin midpoint (sigmoid of
    a literal -- the only libm call, absorbed by the micro-unit floor)
    and their gap. A calibrated model shows gap_u6 near 0 in the
    populated bins; the gaps ARE the recalibration curve
    (Platt/isotonic input). Map-only until the single (bin) aggregate."""
    from ..operators.quality_model import logit_expr
    from ..operators.textanalysis import quality_features, quality_score

    d = spread(load_table(spark, sf_dir, "documents"))
    f = quality_features("text")
    base = d.select(
        f["stopword_ratio"].cast("double").alias("swr"),
        f["mean_word_len"].cast("double").alias("mwl"),
        f["punct_ratio"].cast("double").alias("pr"),
        (f["n_tokens"] / F.lit(100.0)).cast("double").alias("ntok_h"),
        (quality_score("text") >= QUALITY_LABEL_THRESHOLD)
        .cast("int")
        .alias("pos"),
    )
    z = logit_expr(QUALITY_LOGIT_W, QUALITY_LOGIT_B)
    z_u6 = F.floor(z * F.lit(1000000.0)).cast("bigint")
    zc = F.least(
        F.greatest(z_u6, F.lit(CALIB_Z_MIN_U6)), F.lit(CALIB_Z_MAX_U6 - 1)
    )
    binned = base.select(
        ((zc - F.lit(CALIB_Z_MIN_U6)) * F.lit(CALIB_BINS)).alias("num"), "pos"
    ).select(F.expr(f"num div {_CALIB_SPAN}").cast("bigint").alias("bin"), "pos")
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    mid = F.lit(CALIB_Z_MIN_U6 / 1000000.0) + (
        F.col("bin") + F.lit(0.5)
    ) * F.lit(_CALIB_SPAN / 1000000.0 / CALIB_BINS)
    pred = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-mid))) * F.lit(1000000.0)
    ).cast("bigint")
    return g.select(
        "bin",
        "n",
        "n_pos",
        F.expr("(n_pos * 1000000) div n").cast("bigint").alias("obs_rate_u6"),
        pred.alias("pred_mid_u6"),
    ).withColumn(
        "gap_u6",
        F.abs(F.col("obs_rate_u6") - F.col("pred_mid_u6")).cast("bigint"),
    )


@query("doc_quality_trained_model")
def q_doc_quality_trained_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier scorecard, one row: (method, n_train, n_test,
    accuracy, baseline_acc). Labels = quality_score >=
    QUALITY_LABEL_THRESHOLD (the corpus median, so both classes are
    populated); train on the stable 80% hash split, score the held-out
    20% with the fitted weights inlined as the literal map-only logit
    (quality_model module docstring). baseline_acc is the
    majority-class accuracy on the same held-out rows — the bar the
    learned weights must clear (pinned in pytest). Hash-grade
    verification (no oracle by construction): fresh-JVM two-session
    determinism pin + an independent numpy Newton solver of the same
    strictly-convex objective reproducing the Spark ML weights to
    1e-3 and the scorecard accuracy to 1e-4
    (tests/test_rows_only_verification.py)."""
    from ..operators.quality_model import (
        logit_expr,
        quality_feature_frame,
        train_quality_lr,
    )
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import quality_score

    docs = spread(load_table(spark, sf_dir, "documents"))
    feats = quality_feature_frame(docs).join(
        docs.select(
            "doc_id",
            (quality_score("text") >= QUALITY_LABEL_THRESHOLD)
            .cast("double")
            .alias("label"),
        ),
        "doc_id",
    )
    is_test = hash_bucket("doc_id", salt="qlr") < _QLR_TEST_PCT
    train, test = feats.filter(~is_test), feats.filter(is_test)
    w, b = train_quality_lr(train)
    scored = test.select(
        "label", (logit_expr(w, b) >= 0).cast("double").alias("pred")
    )
    return scored.agg(
        F.lit("logreg_heuristic_bootstrap").alias("method"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(F.avg((F.col("pred") == F.col("label")).cast("double")), 4).alias(
            "accuracy"
        ),
        F.round(
            F.greatest(F.avg("label"), 1 - F.avg("label")), 4
        ).alias("baseline_acc"),
    ).crossJoin(
        train.agg(F.count(F.lit(1)).cast("bigint").alias("n_train"))
    ).select("method", "n_train", "n_test", "accuracy", "baseline_acc")


# ---------------------------------------------------------------------------
# The END-TO-END corpus curation pipeline in ONE job — the full
# decision table an LLM data team materializes before a training dump:
# heuristic quality filter (corpus_keep_list rule) × benchmark
# exclusion + n-gram decontamination (benchmark_decontamination rule)
# × duplicate-cluster keep (corpus_dedup_pipeline rule) ×
# leakage-safe cluster split (leakage_safe_split rule), with the final
# ``selected`` bit = trains-on-this-doc. Each stage reuses the exact
# operator the standalone query runs, and the oracle composes the same
# four CTE chains — so the hash match checks the INTERACTION of the
# stages (shared graph, shared splits), not just each stage alone.
# Plan shape: one annotation pass (map-only), one decon probe
# (broadcast gram join), one clustering (capped LSH + CC), then pure
# equi-joins of per-doc flags — nothing quadratic, nothing collected.
# ---------------------------------------------------------------------------
@query(
    "corpus_curation_pipeline",
    f"""
    WITH RECURSIVE {_sql_doc_annotations()},
    {_decon_ctes()},
    contaminated AS (SELECT DISTINCT doc_id FROM dhits),
    {_minhash_pairs_ctes()},
    xfp AS (SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
            FROM documents),
    xfreps AS (SELECT fp, MIN(doc_id) AS rep FROM xfp GROUP BY fp),
    edges0 AS (
        SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= {JACCARD_THRESHOLD}
        UNION
        SELECT fr.rep AS doc_a, p.doc_id AS doc_b
        FROM xfp p JOIN xfreps fr USING (fp) WHERE p.doc_id <> fr.rep),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM edges0
              UNION
              SELECT doc_b AS u, doc_a AS v FROM edges0),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    flags AS (
        SELECT a.doc_id,
               (a.lang_pred = 'en' AND a.quality_score >= {KEEP_MIN_QUALITY}
                AND a.n_tokens BETWEEN {KEEP_MIN_TOKENS} AND {KEEP_MAX_TOKENS})
                 AS kq,
               ds.is_eval AS bm,
               (c.doc_id IS NOT NULL) AS ct,
               (m.node = m.component) AS dk,
               CASE WHEN {sql_hash_bucket("m.component", salt="split")}
                         < {SPLIT_TEST_PCT}
                    THEN 'test' ELSE 'train' END AS split
        FROM ann a
        JOIN dsplit ds ON ds.doc_id = a.doc_id
        JOIN comp m ON m.node = a.doc_id
        LEFT JOIN contaminated c ON c.doc_id = a.doc_id)
    SELECT doc_id,
           kq::BIGINT AS keep_quality,
           bm::BIGINT AS is_benchmark,
           ct::BIGINT AS is_contaminated,
           dk::BIGINT AS dup_keep,
           split,
           (kq AND NOT bm AND NOT ct AND dk AND split = 'train')::BIGINT
             AS selected
    FROM flags
    """,
)
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full curation decision table, one row per corpus document:
    (doc_id, keep_quality, is_benchmark, is_contaminated, dup_keep,
    split, selected) — selected=1 exactly for the rows a training dump
    writes. Composes annotate_documents (quality rule of
    corpus_keep_list), contamination_report (benchmark_decontamination
    rule), the capped exact∪MinHash duplicate graph + min-id keeper
    (corpus_dedup_pipeline rule), and the cluster-hash split
    (leakage_safe_split rule) over ONE shared clustering pass."""
    from ..operators.clusters import connected_components
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import annotate_documents, contamination_report

    docs = load_table(spark, sf_dir, "documents")
    ann = annotate_documents(spread(docs))
    is_bench = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
    contam = (
        contamination_report(
            docs.filter(~is_bench),
            docs.filter(is_bench),
            k=DECON_K,
            df_cap=DECON_DF_CAP,
        )
        .select("doc_id")
        .withColumn("_ct", F.lit(1))
    )
    near = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = near.unionByName(exact_dup_edges(docs))
    comps = connected_components(edges)
    resolved = (
        docs.select(F.col("doc_id").alias("node"))
        .join(comps, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
    kq = (
        (F.col("lang_pred") == "en")
        & (F.col("quality_score") >= KEEP_MIN_QUALITY)
        & F.col("n_tokens").between(KEEP_MIN_TOKENS, KEEP_MAX_TOKENS)
    )
    split = F.when(
        hash_bucket("component", 100, "split") < SPLIT_TEST_PCT, F.lit("test")
    ).otherwise(F.lit("train"))
    flags = (
        ann.join(resolved, "doc_id")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            kq.alias("kq"),
            is_bench.alias("bm"),
            F.col("_ct").isNotNull().alias("ct"),
            (F.col("doc_id") == F.col("component")).alias("dk"),
            split.alias("split"),
        )
    )
    return flags.select(
        "doc_id",
        F.col("kq").cast("bigint").alias("keep_quality"),
        F.col("bm").cast("bigint").alias("is_benchmark"),
        F.col("ct").cast("bigint").alias("is_contaminated"),
        F.col("dk").cast("bigint").alias("dup_keep"),
        "split",
        (
            F.col("kq")
            & ~F.col("bm")
            & ~F.col("ct")
            & F.col("dk")
            & (F.col("split") == "train")
        )
        .cast("bigint")
        .alias("selected"),
    )


# ---------------------------------------------------------------------------
# Vector-index forget: the ANN complement of dedup_clusters_forget. A
# persisted cell-partitioned IVF index loses a stable 5% of its
# vectors via operators/similarity.py::ivf_forget_vectors (dynamic
# partition overwrite — only affected cell directories rewrite;
# centroids stay frozen), and the query batch is searched against the
# maintained index. Forgotten vectors must never surface as
# neighbors; the oracle recomputes the search from scratch with the
# forget-list excluded from index membership but INCLUDED in centroid
# training (the frozen-quantizer contract), so the hash match proves
# maintained-index == rebuilt-index.
# ---------------------------------------------------------------------------
ANN_FORGET_PCT = 5


@query(
    "ann_forget_topk",
    _ann_incremental_oracle(
        idx_extra=(
            f" AND NOT ({sql_hash_bucket('vec_id', salt='forget')}"
            f" < {ANN_FORGET_PCT})"
        )
    ),
)
def q_ann_forget_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the 10% query batch against the IVF index AFTER a 5%
    forget pass: index built over the 90% corpus, written
    partitionBy(cell), affected cells rewritten minus the forget-list
    (dynamic partition overwrite), read back, searched. Same output
    shape as ann_incremental_topk."""
    import os

    from ..operators.sampling import hash_bucket
    from ..operators.similarity import (
        ivf_forget_vectors,
        ivf_index,
        ivf_search_index,
    )
    from ..sources.sinks import write_parquet

    emb = load_table(spark, sf_dir, "embeddings")
    is_new = hash_bucket("vec_id") < ANN_NEW_PCT
    corpus, batch = emb.filter(~is_new), emb.filter(is_new)

    from ..operators.concurrency import run_concurrent

    base = _run_scoped_index_dir("ivf_forget")
    cpath = os.path.join(base, "centroids")
    apath = os.path.join(base, "assignments")
    cents, assigned = ivf_index(corpus)
    # one materialization of the assignments feeds both index writes
    # and the forget pass; the two writes are independent — overlap
    # them (guide §2.6)
    assigned = materialize(assigned)
    run_concurrent(
        lambda: write_parquet(cents, cpath),
        lambda: write_parquet(assigned, apath, partition_by=["cell"]),
    )
    deleted = corpus.filter(
        hash_bucket("vec_id", salt="forget") < ANN_FORGET_PCT
    ).select("vec_id")
    ivf_forget_vectors(assigned, deleted, apath)
    # read back with the schema just written: no inference job; the
    # cell column still comes from partition discovery
    cents_rb = spark.read.schema(cents.schema).parquet(cpath)
    assigned_rb = spark.read.schema(assigned.schema).parquet(apath)
    out = ivf_search_index(assigned_rb, cents_rb, batch, ANN_K)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# ---------------------------------------------------------------------------
# SCD2 dimension history: collapse a keyed update log (orders as
# priority-change events per customer) into slowly-changing-dimension
# type-2 rows (valid_from / valid_to / is_current) via gaps-and-
# islands. The warehouse twin of latest_order_snapshot: the snapshot
# keeps only the latest value, SCD2 keeps the full attribute history
# for point-in-time training-feature joins. Reference has no history
# table at all (etl_pipeline.py keeps only the current frame) — this
# is the 100 TB posture where reprocessing the raw log per query is
# not an option.
# ---------------------------------------------------------------------------
_SCD2_HISTORY_SQL = """
    WITH o AS (SELECT o_custkey, o_orderkey,
                      o_orderpriority AS priority,
                      CAST(o_orderdate AS DATE) AS d
               FROM orders),
    s AS (SELECT *, CASE WHEN LAG(priority) OVER
                      (PARTITION BY o_custkey ORDER BY d, o_orderkey)
                      IS DISTINCT FROM priority THEN 1 ELSE 0 END AS chg
          FROM o),
    g AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                                   ORDER BY d, o_orderkey
                                   ROWS UNBOUNDED PRECEDING) AS seg
          FROM s),
    seg AS (SELECT o_custkey, seg, priority,
                   MIN(d) AS vf, COUNT(*)::BIGINT AS n_orders
            FROM g GROUP BY o_custkey, seg, priority)
    SELECT o_custkey, priority,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(LEAD(vf) OVER w, '%Y-%m-%d'),
                    '9999-12-31') AS valid_to,
           n_orders,
           (CASE WHEN LEAD(vf) OVER w IS NULL
                 THEN 1 ELSE 0 END)::BIGINT AS is_current
    FROM seg WINDOW w AS (PARTITION BY o_custkey ORDER BY seg)
    """


@query("scd2_priority_history", _SCD2_HISTORY_SQL)
def q_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 build in ONE shuffle: every stage — the change-flag lag,
    the running-sum island id, the per-island groupBy and the
    valid_to lead — is keyed by (or by a superset of) o_custkey, so
    Spark reuses the first hash partitioning end-to-end (the groupBy
    on (custkey, seg, priority) is satisfied by clustering on custkey
    alone; plan-tested). Open-ended rows carry the standard
    9999-12-31 sentinel; deterministic tie-break (d, o_orderkey)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    s = o.withColumn(
        "chg",
        F.when(
            F.lag("priority").over(w).eqNullSafe(F.col("priority")), F.lit(0)
        ).otherwise(F.lit(1)),
    )
    g = s.withColumn(
        "seg", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    segs = g.groupBy("o_custkey", "seg", "priority").agg(
        F.min("d").alias("vf"), F.count(F.lit(1)).alias("n_orders")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("seg")
    nxt = F.lead("vf").over(w2)
    return segs.select(
        "o_custkey",
        "priority",
        F.date_format("vf", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")).alias(
            "valid_to"
        ),
        "n_orders",
        F.when(nxt.isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Deterministic training-shard plan: the export step of every
# training-data pipeline — assign each document a shard and a stable
# within-shard position so a 1000-worker trainer reads identical data
# in identical order on every epoch and every re-run. rand()/zipWithIndex
# would change membership on retry; the key-hash plan is a pure
# function of the data. At 100 TB the physical write is
# repartition(shard) + sortWithinPartitions(hv, doc_id); the
# row_number here is the oracle-checkable statement of that order.
# ---------------------------------------------------------------------------
N_TRAIN_SHARDS = 8


@query(
    "training_shard_plan",
    f"""
    WITH h AS (SELECT doc_id, n_chars,
                      CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) AS hv
               FROM documents)
    SELECT doc_id, hv % {N_TRAIN_SHARDS} AS shard,
           ROW_NUMBER() OVER (PARTITION BY hv % {N_TRAIN_SHARDS}
                              ORDER BY hv, doc_id)::BIGINT AS shard_pos,
           n_chars
    FROM h
    """,
)
def q_training_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shard, shard_pos, n_chars): shard = md5-hash(doc_id)
    mod N_TRAIN_SHARDS (same engine-portable conv(md5) trick as
    operators/sampling.py::hash_bucket), position = rank of the hash
    within the shard — a deterministic global shuffle without a global
    sort: the window is per-shard (corpus/N rows each, all shards in
    parallel), never a single-partition total order."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "n_chars",
        F.expr(
            "cast(conv(substr(md5(concat('shard', cast(doc_id as string))), 1, 8),"
            " 16, 10) as bigint)"
        ).alias("hv"),
    )
    sh = h.withColumn("shard", F.col("hv") % N_TRAIN_SHARDS)
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return sh.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counts: the other half of tokenizer prep next to
# corpus_vocabulary — the frequency table of ADJACENT token pairs that
# a byte-pair-encoding trainer consumes for its first merge round.
# One explode over zip_with(tokens, tokens[1:]) keeps everything
# JVM-side; the hot pairs collapse in the map-side partial aggregate.
# ---------------------------------------------------------------------------
BPE_TOP_K = 40


@query(
    "bpe_pair_counts",
    f"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
               FROM documents),
    p AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i + 1])) AS pair
          FROM t WHERE len(toks) >= 2),
    c AS (SELECT pair, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
                 COUNT(*)::BIGINT AS n_occurrences
          FROM p GROUP BY pair),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS rank
          FROM c)
    SELECT pair, n_docs, n_occurrences, rank::BIGINT AS rank
    FROM r WHERE rank <= {BPE_TOP_K}
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BPE_TOP_K} adjacent-token-pair table (pair, n_docs,
    n_occurrences, rank). Tokens are bound to an attribute BEFORE the
    slice/zip_with so the higher-order exprs never re-evaluate the
    split (the HOF re-evaluation trap in SKILL.md); top-K via
    orderBy+limit → TakeOrderedAndProject, the rank window rides the
    already-limited rows exactly like corpus_vocabulary."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias("toks"),
    ).filter(F.size("toks") >= 2)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    topk = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("pair").asc()
    ).limit(BPE_TOP_K)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return topk.select(
        "pair",
        "n_docs",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Iterative BPE trainer — the operator a tokenizer team actually runs
# (bpe_pair_counts stops at round-1 statistics; this is the k-round
# merge LOOP, the connected_components driver-sequenced shape). Each
# round: ONE shuffle (pair counts over DISTINCT WORDS, not the
# corpus), a 1-row argmax collect (the merge decision = the model),
# and a map-only merge rewrite. Sequences WRAP each symbol in chr(1)
# sentinels, making the rewrite a single replace() with exact
# textbook greedy-leftmost semantics on Spark, DuckDB, AND Python —
# (wrapped, not just terminated: a terminator-only pattern can match
# a longer symbol's SUFFIX — hypothesis-property-tested) —
# so the oracle below unrolls the entire data-dependent loop as CTEs
# (round r's CTEs reference round r-1's winning pair via a cross join
# with its 1-row argmax) and hash-matches every merge decision.
# Integer counts + binary-collation tie-breaks: no float anywhere.
# ---------------------------------------------------------------------------
BPE_MERGES = 12


def _bpe_ctes(k: int, src: str = "documents") -> str:
    """Unrolled k-round DuckDB replica of bpe_train_merges: wf (word
    freq) → w1 (chr(1)-terminated char sequences) → per round r:
    pair explode p{r} → counts pc{r} → 1-row argmax b{r} → rewritten
    w{r+1}. Every CTE is MATERIALIZED: w{r+1} references w{r} twice
    (directly and through b{r}'s argmax), so inlining would expand the
    plan 2^k-fold. ``src`` re-targets the TRAINING corpus (the
    pinned-tokenizer oracle trains on the standing slice while the
    rest of its statement reads the full corpus)."""
    ctes = [
        f"""wf AS (SELECT w AS word, COUNT(*)::BIGINT AS n
           FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                 FROM {src})
           GROUP BY w),
    w1 AS (SELECT word, chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
                  i -> word[CAST(i AS INT)]), chr(1) || chr(1)) || chr(1) AS seq, n
           FROM wf)"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""t{r} AS (SELECT list_filter(string_split(seq, chr(1)), x -> x <> '') AS toks, n
            FROM w{r}),
    p{r} AS (SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[CAST(i AS INT)] || chr(10) || toks[CAST(i AS INT) + 1])) AS pr, n
            FROM t{r} WHERE len(toks) >= 2),
    pc{r} AS (SELECT pr, SUM(n)::BIGINT AS cnt FROM p{r} GROUP BY pr),
    b{r} AS (SELECT {r}::BIGINT AS merge_rank,
                    split_part(pr, chr(10), 1) AS left_sym,
                    split_part(pr, chr(10), 2) AS right_sym,
                    split_part(pr, chr(10), 1) || split_part(pr, chr(10), 2) AS merged,
                    cnt AS n_occurrences
             FROM pc{r} ORDER BY cnt DESC, pr LIMIT 1),
    w{r + 1} AS (SELECT w.word, replace(w.seq,
                        chr(1) || bb.left_sym || chr(1) || chr(1) || bb.right_sym || chr(1),
                        chr(1) || bb.merged || chr(1)) AS seq, w.n
                 FROM w{r} w CROSS JOIN b{r} bb)"""
        )
    return "WITH " + ",\n    ".join(ctes).replace(
        " AS (SELECT", " AS MATERIALIZED (SELECT"
    )


_BPE_MERGE_CACHE: dict[str, list] = {}


def _bpe_merges_for(spark: SparkSession, sf_dir: str) -> list:
    """bpe_train_merges over documents, memoized per (process,
    sf_dir) — the trained merge list is a k-row MODEL both queries
    below share."""
    got = _BPE_MERGE_CACHE.get(sf_dir)
    if got is None:
        from ..operators.textanalysis import bpe_train_merges

        docs = load_table(spark, sf_dir, "documents")
        got = bpe_train_merges(spread(docs), BPE_MERGES)
        _BPE_MERGE_CACHE[sf_dir] = got
    return got


@query(
    "bpe_train_merges",
    _bpe_ctes(BPE_MERGES)
    + "\n    "
    + " UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(1, BPE_MERGES + 1)),
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {BPE_MERGES} trained BPE merges: (merge_rank,
    left_sym, right_sym, merged, n_occurrences). The hash match vs the
    unrolled-CTE oracle proves every data-dependent merge DECISION —
    pair statistics, argmax tie-breaks, and the greedy rewrite each
    round feeds the next — is identical cross-engine. pytest
    additionally pins the loop against an independent pure-Python
    symbol-list BPE reference on a crafted corpus (including 'aaaa'
    run semantics) and plan-asserts one shuffle per round."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    merges = _bpe_merges_for(spark, sf_dir)
    schema = StructType(
        [
            StructField("merge_rank", LongType()),
            StructField("left_sym", StringType()),
            StructField("right_sym", StringType()),
            StructField("merged", StringType()),
            StructField("n_occurrences", LongType()),
        ]
    )
    return spark.createDataFrame(
        [(r, a, b, m, n) for r, a, b, m, n in merges], schema
    )


@query(
    "bpe_symbol_vocab",
    _bpe_ctes(BPE_MERGES)
    + f""",
    sym AS (SELECT unnest(list_filter(string_split(seq, chr(1)), x -> x <> '')) AS symbol, n
            FROM w{BPE_MERGES + 1}),
    sc AS (SELECT symbol, SUM(n)::BIGINT AS n_occurrences FROM sym GROUP BY symbol)
    SELECT symbol, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, symbol)::BIGINT AS rank
    FROM sc
    """,
)
def q_bpe_symbol_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resulting symbol vocabulary after the {BPE_MERGES} trained
    merges: (symbol, n_occurrences, rank) — base characters that
    survived plus every merged symbol, corpus-weighted. Applying the
    trained merge list is bpe_apply_merges' ONE map-only projection
    (the whole replace chain composes — no per-round actions): how a
    frozen tokenizer re-encodes new text at scale. The rank window
    rides a ≤(26 + k)-row aggregate — bounded by construction."""
    from pyspark.sql import Window

    from ..operators.textanalysis import bpe_apply_merges, bpe_seq_table, bpe_word_table

    merges = _bpe_merges_for(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    final = bpe_apply_merges(bpe_seq_table(bpe_word_table(spread(docs))), merges)
    sym = final.select(
        "n",
        F.explode(F.expr("filter(split(seq, char(1)), x -> x <> '')")).alias(
            "symbol"
        ),
    )
    sc = sym.groupBy("symbol").agg(F.sum("n").cast("bigint").alias("n_occurrences"))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("symbol").asc())
    return sc.select(
        "symbol",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


@query(
    "bpe_doc_token_counts",
    _bpe_ctes(BPE_MERGES)
    + f""",
    wsym AS (SELECT word,
                    len(list_filter(string_split(seq, chr(1)), x -> x <> ''))::BIGINT AS n_syms
             FROM w{BPE_MERGES + 1}),
    dt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
           FROM documents)
    SELECT d.doc_id, COUNT(*)::BIGINT AS n_words,
           SUM(w.n_syms)::BIGINT AS n_bpe_tokens
    FROM dt d JOIN wsym w USING (word)
    GROUP BY d.doc_id
    """,
)
def q_bpe_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens): per-document token counts
    under the TRAINED tokenizer — the real version of the regex
    estimate token budgeting uses (operators/textanalysis.py::
    token_count_bpe_ish). The corpus is never re-segmented: the
    trained merges collapse into one map-only projection over the
    DISTINCT-WORD table (word → symbol count), and each document's
    count is a sum over its words through an equi-join on word —
    at 100 TB that word table is the broadcast/bucketed dimension,
    and the only corpus-sized work is the regexp explode riding the
    scan. Oracle replays training AND counting from scratch."""
    from ..operators.textanalysis import BPE_SEP, bpe_apply_merges, bpe_word_table

    merges = _bpe_merges_for(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    wf = bpe_word_table(spread(docs))
    seq = F.concat(
        F.lit(BPE_SEP),
        F.concat_ws(BPE_SEP + BPE_SEP, F.split(F.col("word"), "")),
        F.lit(BPE_SEP),
    )
    wseq = bpe_apply_merges(wf.select("word", seq.alias("seq")), merges)
    wsym = wseq.select(
        "word",
        F.size(F.expr("filter(split(seq, char(1)), x -> x <> '')"))
        .cast("bigint")
        .alias("n_syms"),
    )
    dt = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("word"),
    )
    return (
        dt.join(wsym, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )


