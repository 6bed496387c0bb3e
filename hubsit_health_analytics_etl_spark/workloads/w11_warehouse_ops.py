"""Incremental MV maintenance, session transcripts, incremental vocabulary, sampling quotas, TF-IDF, winsorization, Q21/Q17 shapes, set ops, anomaly z-scores, recursive CTE spine, RI audit, VARIANT, Arrow UDF modes, PSI drift.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w02_dedup import NEW_BATCH_PCT, _run_scoped_index_dir  # noqa: E402
from .w07_cluster_maintenance import VOCAB_TOP_K  # noqa: E402
from .w08_ann_composites import _CDC_COMPARE  # noqa: E402
from .w09_curation_lifecycle import FORGET_PCT  # noqa: E402


# ---------------------------------------------------------------------------
# MERGE INTO (nightly upsert): the write-side complement of
# orders_snapshot_diff — the same deterministic target (bkt<95) and
# source delta (bkt>=5, 90+ repriced) merged into one table with
# WHEN MATCHED → source row, NOT MATCHED BY TARGET → insert,
# NOT MATCHED BY SOURCE → keep; every row labeled with its
# merge_action. The oracle types update-vs-unchanged column-wise
# (IS DISTINCT FROM) while the operator compares md5 fingerprints, so
# the hash match proves fingerprint == column semantics again, this
# time through the merge path.
# ---------------------------------------------------------------------------
@query(
    "orders_merge_upsert",
    f"""
    WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority,
                      {sql_hash_bucket("o_orderkey", salt="cdc")} AS bkt
               FROM orders),
    t AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
          FROM b WHERE bkt < 95),
    s AS (SELECT o_orderkey, o_orderstatus,
                 CASE WHEN bkt >= 90 THEN o_totalprice + 1.0
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderpriority
          FROM b WHERE bkt >= 5),
    m AS (SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                      ELSE t.o_orderstatus END AS o_orderstatus,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                      ELSE t.o_totalprice END AS o_totalprice,
                 CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
                      ELSE t.o_orderpriority END AS o_orderpriority,
                 CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                      WHEN s.o_orderkey IS NULL THEN 'kept'
                      WHEN t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
                           OR t.o_totalprice IS DISTINCT FROM s.o_totalprice
                           OR t.o_orderpriority IS DISTINCT FROM s.o_orderpriority
                      THEN 'update' ELSE 'unchanged' END AS merge_action
          FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
    SELECT o_orderkey::BIGINT AS o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 2) AS o_totalprice, o_orderpriority, merge_action
    FROM m
    """,
)
def q_orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/cdc.py::merge_upsert over the snapshot-diff fixture
    split: merged table + per-row merge_action. One equi full-outer
    join on the key (zero-shuffle when both sides are bucketed)."""
    from ..operators.cdc import merge_upsert
    from ..operators.sampling import hash_bucket

    b = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        *_CDC_COMPARE,
        hash_bucket("o_orderkey", 100, "cdc").alias("bkt"),
    )
    target = b.filter(F.col("bkt") < 95).drop("bkt")
    source = (
        b.filter(F.col("bkt") >= 5)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("bkt") >= 90, F.col("o_totalprice") + F.lit(1.0)
            ).otherwise(F.col("o_totalprice")),
        )
        .drop("bkt")
    )
    m = merge_upsert(target, source, ["o_orderkey"], _CDC_COMPARE)
    return m.withColumn("o_totalprice", F.round("o_totalprice", 2))


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (IVM) — the feature real
# warehouses ship by name: keep a persisted (COUNT, SUM) rollup in
# sync with a changing base table by applying only the CHANGED rows'
# group deltas, never recomputing. Composes three existing pieces:
# the snapshot-diff CDC (fingerprint key join), the additive-law
# argument of every *_new_batch index, and integer fixed-point sums
# (float sums would drift from a recompute by reassociation — money
# becomes exact u2 cents first). Churn here: 10% inserts, 5% price
# updates (+137 cents), 3% deletes, overlapping arbitrarily.
# ---------------------------------------------------------------------------
IVM_INS_PCT = 10  # o_orderkey bucket < 10: absent from the old snapshot
IVM_CHG_PCT = 5   # salt 'chg': price bumped in the new snapshot
IVM_DEL_PCT = 3   # salt 'del': dropped from the new snapshot
IVM_BUMP_U2 = 137


@query(
    "rollup_incremental_maintenance",
    f"""
    WITH v1 AS (SELECT o_orderpriority,
                       CAST(round(o_totalprice * 100) AS BIGINT)
                         + CASE WHEN {sql_hash_bucket("o_orderkey", salt="chg")}
                                     < {IVM_CHG_PCT}
                                THEN {IVM_BUMP_U2} ELSE 0 END AS p
                FROM orders
                WHERE {sql_hash_bucket("o_orderkey", salt="del")} >= {IVM_DEL_PCT})
    SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
           SUM(p)::BIGINT AS revenue_u2
    FROM v1 GROUP BY o_orderpriority
    """,
)
def q_rollup_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A persisted revenue rollup maintained INCREMENTALLY through a
    full churn cycle (operators/cdc.py::maintain_additive_rollup):
    the old snapshot's per-priority (COUNT, SUM-of-cents) view is
    written as a parquet index, the new snapshot differs from it by
    hash-stable inserts/updates/deletes, and the maintained view =
    base + changed-row group deltas. The oracle aggregates the new
    snapshot FROM SCRATCH — the hash match proves delta maintenance
    == recompute, exactly (integer cents; a float SUM could not make
    this claim). Per-refresh cost ∝ churn: change detection shuffles
    (key, fingerprint) pairs, only changed keys rejoin for values,
    and the final merge touches a view of |groups| rows."""
    import os

    from ..operators.cdc import maintain_additive_rollup
    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    b = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("p0"),
        hash_bucket("o_orderkey").alias("b_ins"),
        hash_bucket("o_orderkey", salt="chg").alias("b_chg"),
        hash_bucket("o_orderkey", salt="del").alias("b_del"),
    )
    old = b.filter(F.col("b_ins") >= IVM_INS_PCT).select(
        "o_orderkey", "o_orderpriority", F.col("p0").alias("p")
    )
    new = b.filter(F.col("b_del") >= IVM_DEL_PCT).select(
        "o_orderkey",
        "o_orderpriority",
        (
            F.col("p0")
            + F.when(
                F.col("b_chg") < IVM_CHG_PCT, F.lit(IVM_BUMP_U2)
            ).otherwise(F.lit(0))
        ).alias("p"),
    )

    base = old.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p").cast("bigint").alias("s"),
    )
    idx_path = os.path.join(_run_scoped_index_dir("ivm"), "rollup")
    write_parquet(base, idx_path)

    maintained = maintain_additive_rollup(
        spark.read.parquet(idx_path),
        old,
        new,
        ["o_orderkey"],
        "o_orderpriority",
        "p",
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        F.col("s").alias("revenue_u2"),
    )


# ---------------------------------------------------------------------------
# Session transcript assembly: the SFT/conversation-data shape — turn
# a user's raw event stream into one ordered sequence string per
# session (the same assembly that turns chat turns into a training
# example, or doc chunks back into a document). Ordered-array
# collection is the engine primitive being exercised:
# array_sort(collect_list(struct(order_keys..., payload))) is the
# deterministic distributed ORDER BY ... STRING_AGG — collect_list
# alone is partition-order-dependent and would flap across runs.
# ---------------------------------------------------------------------------
@query(
    "session_transcripts",
    """
    WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) ts
               FROM events),
    m AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                          OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           COUNT(*)::BIGINT AS n_eventos,
           STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS transcript
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_start, n_eventos, transcript): 30-minute-gap
    sessions with the event-type sequence assembled in (ts, event_id)
    order. Gaps-and-islands windows, the per-session groupBy and the
    in-group ordering all ride ONE user_id hash partitioning; the
    sort happens inside each collected array (bounded by session
    length), never as a global sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    m = ev.withColumn(
        "new_s",
        F.when(
            prev.isNull()
            | ((F.col("ts") - prev) >= F.expr("INTERVAL 30 MINUTES")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = m.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        s.groupBy("user_id", "sid")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.count(F.lit(1)).alias("n_eventos"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("transcript"),
        )
        .select("user_id", "session_start", "n_eventos", "transcript")
    )


# ---------------------------------------------------------------------------
# Incremental vocabulary maintenance: the token-count index is a
# MERGEABLE aggregate (disjoint doc slices ⇒ per-token n_docs and
# n_occurrences just ADD), so a new ingest never re-tokenizes the
# corpus — the persisted (token, n_docs, n_occurrences) index absorbs
# the batch's partial counts with one union + re-aggregate over rows
# proportional to |vocab| + |batch tokens|, not |corpus text|. The
# oracle is corpus_vocabulary's FULL-RECOMPUTE SQL verbatim, so the
# hash match proves merge == from-scratch (same posture as
# exact_dedup_new_batch / dedup_clusters_new_batch).
# ---------------------------------------------------------------------------
def _token_counts(docs: DataFrame) -> DataFrame:
    """(token, n_docs, n_occurrences) partial-count frame — the
    mergeable unit the vocabulary index persists."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    return toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


@query(
    "vocab_new_batch",
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
def q_vocab_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus (90%) token counts written as a parquet index, read
    back, merged with the 10% batch's partial counts (union + one
    sum-groupBy — additive because the doc slices are disjoint), then
    the same TakeOrderedAndProject top-K as corpus_vocabulary. Output
    identical to the full recompute by construction; the oracle says
    so cryptographically."""
    import os

    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    base = _run_scoped_index_dir("vocab")
    idx_path = os.path.join(base, "vocab_index")
    write_parquet(_token_counts(spread(corpus)), idx_path)
    idx = spark.read.parquet(idx_path)

    merged = (
        idx.unionByName(_token_counts(batch))
        .groupBy("token")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_occurrences").alias("n_occurrences"),
        )
    )
    topk = merged.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return topk.select(
        "token",
        "n_docs",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


@query(
    "vocab_forget",
    f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
               FROM documents
               WHERE {sql_hash_bucket("doc_id", salt="forget")} >= {FORGET_PCT}),
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
def q_vocab_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-index deletion — the forget member of the vocab
    family (vocab_new_batch's additive merge INVERTED, the bm25_forget
    law on the collapsed counts): the full-corpus (token, n_docs,
    n_occurrences) index persists, the stable {FORGET_PCT}%
    forget-list is re-tokenized (cost ∝ deleted slice — the
    cms_forget posture), its partial counts NEGATE into the index with
    one sum-groupBy, and tokens whose occurrence count reaches 0 leave
    the vocabulary. Disjointness makes the subtraction exact: kept ∪
    deleted partition the corpus, so per-token counts over the slices
    add — and therefore subtract. Same top-{VOCAB_TOP_K} report;
    oracle = the full recompute over the kept corpus, hash match
    proves subtraction == rebuild."""
    import os

    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_del = hash_bucket("doc_id", salt="forget") < FORGET_PCT

    base = _run_scoped_index_dir("vocab_forget")
    idx_path = os.path.join(base, "vocab_index")
    write_parquet(_token_counts(spread(docs)), idx_path)
    idx = spark.read.parquet(idx_path)

    neg = _token_counts(docs.filter(is_del)).select(
        "token",
        (-F.col("n_docs")).alias("n_docs"),
        (-F.col("n_occurrences")).alias("n_occurrences"),
    )
    maintained = (
        idx.unionByName(neg)
        .groupBy("token")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 0)
    )
    topk = maintained.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return topk.select(
        "token",
        "n_docs",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Sampling family completion: exact per-stratum quotas and weighted
# sampling without replacement — the two corpus-mixing shapes
# hash_sample / temperature_sample don't cover.
# ---------------------------------------------------------------------------
QUOTA_K = 10  # docs kept per language stratum
WSAMPLE_K = 50  # weighted sample size
TFIDF_TOP = 3  # top terms kept per document


@query(
    "stratified_quota_sample",
    f"""
    WITH h AS (SELECT doc_id, lang,
                      CAST('0x' || substr(md5('quota' || CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) AS hv
               FROM documents),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
          FROM h)
    SELECT doc_id, lang, rk::BIGINT AS rk
    FROM r WHERE rk <= {QUOTA_K}
    """,
)
def q_stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY {QUOTA_K} docs per language (fewer iff the stratum is
    smaller) — quota sampling where temperature/hash sampling only hit
    the budget in expectation. Membership = the {QUOTA_K} smallest key
    hashes per stratum: deterministic, stable under re-partitioning,
    and incremental-friendly (a new doc displaces at most one). One
    shuffle on the stratum key; per-stratum rank windows in parallel —
    at 100 TB swap the full-stratum window for a per-partition top-K
    + merge if strata are huge (the TakeOrdered trick, per key)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "cast(conv(substr(md5(concat('quota', cast(doc_id as string))), 1, 8),"
            " 16, 10) as bigint)"
        ).alias("hv"),
    )
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    return (
        h.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= QUOTA_K)
        .select("doc_id", "lang", "rk")
    )


@query(
    "weighted_sample_topk",
    f"""
    WITH h AS (SELECT doc_id, n_chars,
                      (CAST('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) + 1) / 4294967296.0 AS u
               FROM documents),
    k AS (SELECT doc_id, n_chars,
                 CAST(floor(pow(u, 1.0 / n_chars) * 1000000000.0) AS BIGINT) AS key_u9
          FROM h),
    r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY key_u9 DESC, doc_id) AS rk
          FROM k)
    SELECT doc_id, n_chars, key_u9, rk::BIGINT AS rk
    FROM r WHERE rk <= {WSAMPLE_K}
    """,
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-RES): key = u^(1/w) with u a stable hash fraction and w =
    n_chars, top-{WSAMPLE_K} keys win — inclusion probability ∝
    weight, membership a pure function of the data (A-RES with rand()
    is the textbook version; the hash makes it replayable). The key is
    ranked as floor(key·1e9) micro-units so the ordering is integer
    (cross-engine-exact given identical doubles — the logit_u6
    precedent); top-K via orderBy+limit → TakeOrderedAndProject, the
    rank window rides the {WSAMPLE_K} survivors."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "n_chars",
        (
            (
                F.expr(
                    "cast(conv(substr(md5(concat('wsample', cast(doc_id as string))),"
                    " 1, 8), 16, 10) as bigint)"
                )
                + F.lit(1)
            )
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    k = h.select(
        "doc_id",
        "n_chars",
        F.floor(
            F.pow("u", F.lit(1.0) / F.col("n_chars")) * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("key_u9"),
    )
    topk = k.orderBy(F.col("key_u9").desc(), F.col("doc_id").asc()).limit(
        WSAMPLE_K
    )
    w = Window.orderBy(F.col("key_u9").desc(), F.col("doc_id").asc())
    return topk.select(
        "doc_id",
        "n_chars",
        "key_u9",
        F.row_number().over(w).cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document: the text-analytics staple the
# vocabulary table feeds — term weight = tf · ln(N/df). The document
# frequency table is the SAME mergeable aggregate vocab_new_batch
# maintains incrementally; at scale the df side is the persisted
# index, not a recompute. Weight emitted as integer micro-units so
# the per-doc ranking is integer arithmetic (logit_u6 precedent —
# cross-engine ROUND on doubles flips boundary rows, floor on
# identical doubles cannot).
# ---------------------------------------------------------------------------
@query(
    "doc_tfidf_top_terms",
    f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
               FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*)::BIGINT AS tf
           FROM t WHERE token <> '' GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id)::BIGINT AS df
           FROM t WHERE token <> '' GROUP BY token),
    n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    s AS (SELECT tf.doc_id, tf.token,
                 CAST(floor(tf.tf * ln(n.n_docs / df.df) * 1000000.0) AS BIGINT)
                   AS tfidf_u6
          FROM tf JOIN df USING (token) CROSS JOIN n),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf_u6 DESC, token) AS rk
          FROM s)
    SELECT doc_id, token, tfidf_u6, rk::BIGINT AS rk
    FROM r WHERE rk <= {TFIDF_TOP}
    """,
)
def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP} distinguishing terms per document by tf·idf.
    One explode feeds BOTH aggregates (tf per (doc,token), df per
    token); the df table joins back on the token key (shuffle carries
    (token, df) pairs — at scale this is the persisted vocabulary
    index, broadcast if it fits); the per-doc rank window is bounded
    by document length. ln via each engine's libm on identical
    doubles; ranking is on the integer micro-units."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    s = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.floor(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("tfidf_u6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_u6").desc(), F.col("token"))
    return (
        s.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TFIDF_TOP)
        .select("doc_id", "token", "tfidf_u6", "rk")
    )


# ---------------------------------------------------------------------------
# Percentile winsorization: the standard training-feature cleanup —
# clip a numeric feature at its exact p1/p99 so outliers can't blow
# up normalization. Two-pass shape: one percentile aggregate collapses
# to a single broadcast row (the sanctioned one-row cross join), then
# the clip is pure map-side codegen over the fact — the same plan at
# 100 TB, where the percentile pass swaps to approx_percentile
# (t-digest, mergeable) per the priority_price_percentiles note.
# ---------------------------------------------------------------------------
@query(
    "winsorized_prices",
    """
    WITH q AS (SELECT quantile_cont(o_totalprice, 0.01) AS lo,
                      quantile_cont(o_totalprice, 0.99) AS hi
               FROM orders)
    SELECT o_orderkey,
           ROUND(o_totalprice, 2) AS price,
           ROUND(LEAST(GREATEST(o_totalprice, lo), hi), 2) AS price_clipped,
           (CASE WHEN o_totalprice < lo OR o_totalprice > hi
                 THEN 1 ELSE 0 END)::BIGINT AS clipped
    FROM orders CROSS JOIN q
    """,
)
def q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, price, price_clipped, clipped): exact-percentile
    clip bounds (Spark percentile == DuckDB quantile_cont) broadcast
    as one row; LEAST/GREATEST clipping stays inside the scan's
    whole-stage codegen."""
    orders = load_table(spark, sf_dir, "orders")
    q = orders.agg(
        F.expr("percentile(o_totalprice, 0.01)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.99)").alias("hi"),
    )
    return orders.crossJoin(F.broadcast(q)).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(
            F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")), 2
        ).alias("price_clipped"),
        (
            (F.col("o_totalprice") < F.col("lo"))
            | (F.col("o_totalprice") > F.col("hi"))
        )
        .cast("bigint")
        .alias("clipped"),
    )


# ---------------------------------------------------------------------------
# Waiting suppliers (TPC-H Q21 shape, adapted to this schema: "late" =
# shipped > 90 days after order date): suppliers who were the SOLE
# late shipper on multi-supplier orders. The oracle states the
# textbook correlated EXISTS / NOT EXISTS; the engine runs the
# DECORRELATED form — one grouped pass computing per-order
# (distinct suppliers, distinct late suppliers), joined back — so the
# hash match proves the rewrite that makes Q21 tractable at scale
# (correlated per-row subqueries re-scan lineitem per candidate; the
# decorrelated plan scans it a bounded number of times).
# ---------------------------------------------------------------------------
WAITING_TOP = 10


@query(
    "waiting_suppliers",
    f"""
    WITH l AS (SELECT l.l_orderkey, l.l_suppkey,
                      (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    late AS (SELECT * FROM l WHERE late),
    w AS (SELECT l1.l_suppkey AS suppkey, COUNT(*)::BIGINT AS numwait
          FROM late l1
          WHERE EXISTS (SELECT 1 FROM l l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM late l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey)
          GROUP BY l1.l_suppkey),
    r AS (SELECT suppkey, numwait,
                 ROW_NUMBER() OVER (ORDER BY numwait DESC, suppkey) AS rank
          FROM w)
    SELECT suppkey, numwait, rank::BIGINT AS rank
    FROM r WHERE rank <= {WAITING_TOP}
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{WAITING_TOP} sole-late-shipper counts. Decorrelated: one
    per-order aggregate (n_supp, n_late_supp) replaces both correlated
    subqueries — EXISTS(other supplier) == n_supp >= 2, NOT
    EXISTS(other LATE supplier) == n_late_supp == 1 for a late row.
    Both the aggregate and the join-back key on l_orderkey, so the
    partitioning is reused; top-K via TakeOrderedAndProject."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    cand = (
        l.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    w = cand.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("numwait")
    )
    topk = w.orderBy(F.col("numwait").desc(), F.col("suppkey").asc()).limit(
        WAITING_TOP
    )
    win = Window.orderBy(F.col("numwait").desc(), F.col("suppkey").asc())
    return topk.select(
        "suppkey",
        "numwait",
        F.row_number().over(win).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Small-quantity revenue per brand (TPC-H Q17 shape): lineitems below
# 30% of their part's average quantity. Second correlated-subquery
# rewrite demo (next to waiting_suppliers' EXISTS pair): the oracle
# states the textbook correlated scalar subquery (re-aggregates
# lineitem per probed part); the engine runs the decorrelated form —
# ONE per-part average joined back — which scans lineitem twice total
# instead of once per part. Per-part avg is deterministic cross-engine
# because quantities are integral (exact double sums in any order).
# ---------------------------------------------------------------------------
Q17_QTY_FRACTION = 0.3


@query(
    "small_quantity_revenue",
    f"""
    SELECT p.p_brand,
           COUNT(*)::BIGINT AS n_lines,
           ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity < {Q17_QTY_FRACTION} * (
        SELECT AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_brand, n_lines, avg_yearly) over below-threshold lineitems.
    Decorrelated: per-part AVG(l_quantity) computed once (groupBy) and
    equi-joined back; the part dim is broadcast. Both lineitem passes
    and the join key on l_partkey — AQE reuses the partitioning."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    avg_qty = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    small = li.join(avg_qty, "l_partkey").filter(
        F.col("l_quantity") < F.lit(Q17_QTY_FRACTION) * F.col("_avg_qty")
    )
    return (
        small.join(F.broadcast(part), small.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


# ---------------------------------------------------------------------------
# Set-operation retention: INTERSECT / EXCEPT as first-class operators
# (SURVEY §2.6 covers UNION; these are its distinct-set siblings,
# planned by Spark as semi-/anti-join + distinct aggregates). Customer
# retention across a date split: retained = active-early ∩
# active-late, churned = active-early ∖ active-late.
# ---------------------------------------------------------------------------
RETENTION_SPLIT = "1998-01-01"


# ---------------------------------------------------------------------------
# Anomaly detection — per-user z-score outliers with EXACT INTEGER
# arithmetic end to end. The standard z-test compares float mean/std,
# which can never survive a cross-engine hash (unordered float sums);
# here values are fixed-point (the fixture's 2dp money-like values →
# exact u2 integers) and the test is algebraically cleared of
# divisions:  |v−μ| > k·σ  ⇔  (v·n − Σx)² > k²·(n·Σx² − (Σx)²),
# every term an int64 (bounds documented in the docstring). The
# (n, Σx, Σx²) row is a MERGEABLE sufficient-statistics index — the
# HLL/CMS/histogram posture for moments: per-batch triples add, so a
# standing index supports incremental outlier scoring for free.
# ---------------------------------------------------------------------------
ZSCORE_K = 3


@query(
    "user_value_outliers",
    f"""
    WITH e AS (SELECT user_id, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    s AS (SELECT user_id, COUNT(*)::BIGINT AS n,
                 SUM(v)::BIGINT AS sx,
                 SUM(v * v)::BIGINT AS sxx
          FROM e GROUP BY user_id),
    f AS (SELECT e.user_id,
                 CASE WHEN (e.v * s.n - s.sx) * (e.v * s.n - s.sx)
                           > {ZSCORE_K * ZSCORE_K} * (s.n * s.sxx - s.sx * s.sx)
                      THEN 1 ELSE 0 END AS is_out
          FROM e JOIN s USING (user_id)),
    o AS (SELECT user_id, SUM(is_out)::BIGINT AS n_outliers
          FROM f GROUP BY user_id)
    SELECT s.user_id, s.n AS n_events,
           (s.sx // s.n)::BIGINT AS mean_u2,
           o.n_outliers
    FROM s JOIN o USING (user_id)
    """,
)
def q_user_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user |z| > {ZSCORE_K} outlier counts over events.value,
    integer-exact: values become u2 fixed-point ints (2dp data —
    round(v·100) is >1e10 ulps from any .5 boundary, so both engines
    land the same integer), and the z-test runs as
    (v·n − Σx)² > {ZSCORE_K}²·(n·Σx² − (Σx)²) — the float-free
    algebraic form (σ=0 groups flag nothing, by construction, no
    division-by-zero arm). Output (user_id, n_events, mean_u2 [floor],
    n_outliers), all bigint.

    int64 bounds: with v ≤ V·100 µ-units and n events per user, the
    largest term is k²·n·Σx² ≤ k²·n²·V²·1e4 — safe through
    n·V ≈ 3·10⁷ (e.g. 30k events/user at V=1000); past that, cast the
    four aggregate terms to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
    — same exactness, wider box.

    Scale shape: the (n, Σx, Σx²) row is a mergeable sufficient-
    statistics index (per-batch triples ADD — the moments analogue of
    the histogram/CMS index family), built with one user-keyed
    aggregate; the flag join and the outlier count reuse the same
    user_id partitioning, so the whole query is one partitioning
    end-to-end. Only (user_id, int) pairs shuffle."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("v"),
    )
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sx"),
        F.sum(F.expr("v * v")).cast("bigint").alias("sxx"),
    )
    k2 = ZSCORE_K * ZSCORE_K
    f = e.join(s, "user_id").select(
        "user_id",
        F.expr(
            f"CASE WHEN (v * n - sx) * (v * n - sx)"
            f" > {k2} * (n * sxx - sx * sx) THEN 1 ELSE 0 END"
        ).alias("is_out"),
    )
    o = f.groupBy("user_id").agg(
        F.sum("is_out").cast("bigint").alias("n_outliers")
    )
    return s.join(o, "user_id").select(
        "user_id",
        F.col("n").alias("n_events"),
        F.expr("sx div n").cast("bigint").alias("mean_u2"),
        "n_outliers",
    )


@query(
    "weekly_cohort_retention",
    """
    WITH act AS (SELECT DISTINCT user_id,
                        date_trunc('week', CAST(ts AS TIMESTAMP))::DATE AS wk
                 FROM events),
    coh AS (SELECT user_id, MIN(wk) AS cwk FROM act GROUP BY user_id),
    sizes AS (SELECT cwk, COUNT(*)::BIGINT AS cohort_size
              FROM coh GROUP BY cwk),
    j AS (SELECT coh.cwk, (date_diff('day', coh.cwk, act.wk) // 7) AS off,
                 act.user_id
          FROM act JOIN coh USING (user_id)),
    g AS (SELECT cwk, off, COUNT(DISTINCT user_id)::BIGINT AS n_users
          FROM j GROUP BY cwk, off)
    SELECT strftime(g.cwk, '%Y-%m-%d') AS cohort_week,
           g.off::BIGINT AS offset_weeks,
           g.n_users,
           s.cohort_size,
           ((g.n_users * 1000000) // s.cohort_size)::BIGINT AS rate_ppm
    FROM g JOIN sizes s USING (cwk)
    """,
)
def q_weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic cohort-retention matrix (cohort week × week offset
    → users still active, as a parts-per-million integer rate): the
    product-analytics report next to event_funnel and
    customer_retention_setops' two-period split. All-integer output —
    weeks are Monday-truncated dates on both engines, the offset is an
    exact integer division of a days-diff that is always a multiple
    of 7, and the rate is integer ppm (n·1e6 div size), so nothing
    float ever crosses the hash.

    Scale shape: the distinct-(user, week) pass and the per-user
    cohort MIN share the user_id hash partitioning (one exchange
    serves both), the cohort join is user-keyed, and only the final
    (cohort, offset) aggregate — whose cardinality is weeks², not
    events — reshuffles; the tiny per-cohort sizes table broadcasts.
    Nothing beyond (user_id, date) pairs ever rides a shuffle."""
    events = load_table(spark, sf_dir, "events")
    act = (
        events.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .distinct()
    )
    coh = act.groupBy("user_id").agg(F.min("wk").alias("cwk"))
    sizes = coh.groupBy("cwk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    j = act.join(coh, "user_id").select(
        "cwk",
        F.expr("datediff(wk, cwk) div 7").alias("off"),
        "user_id",
    )
    g = j.groupBy("cwk", "off").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    return g.join(F.broadcast(sizes), "cwk").select(
        F.date_format("cwk", "yyyy-MM-dd").alias("cohort_week"),
        F.col("off").cast("bigint").alias("offset_weeks"),
        "n_users",
        "cohort_size",
        F.expr("(n_users * 1000000) div cohort_size")
        .cast("bigint")
        .alias("rate_ppm"),
    )


@query(
    "customer_retention_setops",
    f"""
    WITH early AS (SELECT o_custkey FROM orders
                   WHERE o_orderdate < TIMESTAMP '{RETENTION_SPLIT} 00:00:00'),
    late AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '{RETENTION_SPLIT} 00:00:00'),
    retained AS (SELECT o_custkey FROM early INTERSECT SELECT o_custkey FROM late),
    churned AS (SELECT o_custkey FROM early EXCEPT SELECT o_custkey FROM late)
    SELECT 'retained' AS status, COUNT(*)::BIGINT AS n_customers FROM retained
    UNION ALL
    SELECT 'churned', COUNT(*)::BIGINT FROM churned
    """,
)
def q_customer_retention_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(status, n_customers) via DataFrame intersect()/exceptAll-free
    except(): both plan as hash semi/anti joins over the distinct key
    sets — the key-only shuffle payload a retention job wants at
    scale (never the order rows)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    split = F.lit(RETENTION_SPLIT + " 00:00:00").cast("timestamp_ntz")
    early = orders.filter(F.col("o_orderdate") < split).select("o_custkey")
    late = orders.filter(F.col("o_orderdate") >= split).select("o_custkey")
    retained = early.intersect(late)
    churned = early.distinct().subtract(late)
    return retained.agg(
        F.lit("retained").alias("status"),
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
    ).unionByName(
        churned.agg(
            F.lit("churned").alias("status"),
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Recursive CTE month spine (Spark 4's WITH RECURSIVE — SPARK-24497):
# the warehouse calendar-dimension utility, shaped for how Spark
# EXECUTES recursion: each recursive step is a sequential driver
# round (~0.1-0.2 s of scheduling latency regardless of data), so the
# recursion walks the COARSE grain (years — depth ≈ 7 here) and a
# set-oriented explode(sequence(...)) expands each year to months in
# one batch op. The naive month-per-step recursion measured 11.8 s
# for an 80-row spine — 80 sequential rounds of pure overhead — vs
# ~1 s for this shape; at any corpus size the depth stays O(years).
# Months with zero orders surface as explicit 0 rows, which a plain
# GROUP BY can never emit.
# ---------------------------------------------------------------------------
@query(
    "order_month_spine",
    """
    WITH RECURSIVE years(y) AS (
        SELECT date_trunc('year', (SELECT MIN(o_orderdate) FROM orders))
        UNION ALL
        SELECT y + INTERVAL 1 YEAR FROM years
        WHERE y < date_trunc('year', (SELECT MAX(o_orderdate) FROM orders))
    ),
    spine AS (SELECT unnest(generate_series(y, y + INTERVAL 11 MONTH,
                                            INTERVAL 1 MONTH)) AS m
              FROM years),
    bounded AS (SELECT m FROM spine
                WHERE m BETWEEN (SELECT date_trunc('month', MIN(o_orderdate))
                                 FROM orders)
                            AND (SELECT date_trunc('month', MAX(o_orderdate))
                                 FROM orders)),
    per_month AS (SELECT date_trunc('month', o_orderdate) AS m,
                         COUNT(*)::BIGINT AS n
                  FROM orders GROUP BY 1)
    SELECT strftime(s.m, '%Y-%m') AS mes,
           COALESCE(p.n, 0)::BIGINT AS n_orders
    FROM bounded s LEFT JOIN per_month p ON s.m = p.m
    """,
)
def q_order_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mes, n_orders) for EVERY month between the first and last
    order — native WITH RECURSIVE on both engines over the year
    grain, explode(sequence(...)) down to months, bounds-filtered.
    The tiny spine broadcasts into the left join against the one
    per-month aggregate of orders."""
    orders = load_table(spark, sf_dir, "orders")
    # bounds collected ONCE (two scalars — the tiny-model pattern, like
    # the PQ codebooks): inlining them as literals keeps the recursive
    # step from re-running the MIN/MAX subquery every round
    lo, hi = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")),
        F.date_trunc("month", F.max("o_orderdate")),
    ).first()
    lo_s, hi_s = str(lo), str(hi)
    spine = spark.sql(
        f"""
        WITH RECURSIVE years(y) AS (
            SELECT date_trunc('year', TIMESTAMP '{lo_s}')
            UNION ALL
            SELECT y + INTERVAL 1 YEAR FROM years
            WHERE y < date_trunc('year', TIMESTAMP '{hi_s}')
        )
        SELECT explode(sequence(y, y + INTERVAL 11 MONTHS,
                                INTERVAL 1 MONTH)) AS m
        FROM years
        """
    )
    bounded = spine.filter(
        F.col("m").between(F.lit(lo_s).cast("timestamp_ntz"),
                           F.lit(hi_s).cast("timestamp_ntz"))
    )
    per_month = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        F.broadcast(bounded.select("m"))
        .join(per_month, "m", "left")
        .select(
            F.date_format("m", "yyyy-MM").alias("mes"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit: the cross-TABLE data-quality complement
# of quality_profile's per-column audit — orphan foreign keys counted
# with broadcast/anti joins, one row per relationship. An ingest gate
# at 100 TB runs exactly this before promoting a snapshot: every
# check is an anti-join whose shuffle carries only the key column,
# and dims (nation, part at fixture ratios) broadcast.
# ---------------------------------------------------------------------------
@query(
    "referential_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS check_name,
           (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_rows,
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
             ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL)::BIGINT AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders)::BIGINT,
           (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
             ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL)::BIGINT
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer)::BIGINT,
           (SELECT COUNT(*) FROM customer c LEFT JOIN nation n
             ON c.c_nationkey = n.n_nationkey
            WHERE n.n_nationkey IS NULL)::BIGINT
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem)::BIGINT,
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p
             ON l.l_partkey = p.p_partkey
            WHERE p.p_partkey IS NULL)::BIGINT
    UNION ALL
    SELECT 'embeddings.vec_id->documents',
           (SELECT COUNT(*) FROM embeddings)::BIGINT,
           (SELECT COUNT(*) FROM embeddings e LEFT JOIN documents d
             ON e.vec_id = d.doc_id
            WHERE d.doc_id IS NULL)::BIGINT
    """,
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check_name, n_rows, n_orphans) per FK relationship — each
    orphan count is an anti-join on the key projection only."""
    from ..operators.joins import anti_join

    def check(name: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str):
        orphans = anti_join(
            fact.select(fk), dim.select(F.col(pk).alias(fk)), [fk]
        )
        return (
            fact.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(name).alias("check_name"),
                F.col("n_rows").cast("bigint"),
                F.col("n_orphans").cast("bigint"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    checks = [
        check("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        check("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
        check("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
        check("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        check("embeddings.vec_id->documents", emb, "vec_id", docs, "doc_id"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# VARIANT semi-structured path (Spark 4 VariantType): parse the JSON
# props ONCE into the binary variant encoding, then every access is a
# typed O(1) field get — at 100 TB the parse-per-access of
# get_json_object (events_json_extract keeps that classic path) is
# the difference between one Jackson pass and one per extracted
# field, and variant columns persist to parquet for shredded reads.
# Same analytics as the JSON twin + a typed-presence count, so the
# DuckDB JSON oracle checks the whole variant pipeline end-to-end.
# ---------------------------------------------------------------------------
@query(
    "events_variant_extract",
    """
    WITH e AS (SELECT event_type, value,
                      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
               FROM events)
    SELECT event_type,
           COUNT(*)::BIGINT AS n_eventos,
           COUNT(k)::BIGINT AS n_with_k,
           ROUND(AVG(k), 4) AS k_medio,
           ROUND(SUM(CASE WHEN k > 50 THEN value ELSE 0 END), 2) AS valor_k_alto
    FROM e GROUP BY event_type
    """,
)
def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json → variant_get: the props string becomes one binary
    VARIANT value per row; ``try_variant_get(v, '$.k', 'int')`` is a
    typed field access on the encoded form (no re-parse, null on
    type/path miss). Aggregates identical to events_json_extract's
    oracle, so the hash match verifies the variant encode/decode
    round-trip, not just the JSON semantics."""
    from ..operators.aggregate import sum_if

    events = load_table(spark, sf_dir, "events")
    e = events.withColumn("_v", F.parse_json("props")).withColumn(
        "k", F.try_variant_get("_v", "$.k", "int")
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.count("k").alias("n_with_k"),
        F.round(F.avg("k"), 4).alias("k_medio"),
        F.round(sum_if(F.col("value"), F.col("k") > 50), 2).alias(
            "valor_k_alto"
        ),
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF (ArrowAggregatePython): the third Arrow
# eval mode after scalar pandas UDFs (ann_two_stage_rerank_udf) and
# mapInPandas (multimodal) — per-group Series → scalar in Python,
# Arrow-batched per group. The medians have an exact SQL twin
# (percentile == numpy interpolated median), so the oracle hash
# checks the Arrow grouped path bit-for-bit; a custom Python-only
# estimator (trimmed scorer, scipy stat) plugs into exactly this
# slot. Partial aggregation does NOT apply to grouped pandas UDFs —
# every row shuffles to its group (plan-visible) — so at 100 TB keep
# these for group-bounded data or pre-reduced inputs, never raw-fact
# medians (percentile_approx is that path).
# ---------------------------------------------------------------------------
@query(
    "priority_median_pandas_agg",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS mediana,
           COUNT(*)::BIGINT AS pedidos
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_priority_median_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority median via a GROUPED_AGG pandas UDF, hash-matched
    against DuckDB quantile_cont (numpy's interpolated median is the
    same estimator)."""
    @F.pandas_udf("double")
    def _median(v: pd.Series) -> float:
        import numpy as np

        return float(np.median(v))

    # JVM aggregates cannot mix with grouped pandas UDFs in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides the same Arrow
    # group as a second pandas UDF
    @F.pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return len(v)

    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(_median("o_totalprice"), 4).alias("mediana"),
        _n("o_totalprice").alias("pedidos"),
    )


# ---------------------------------------------------------------------------
# Co-grouped applyInPandas (FlatMapCoGroupsInPandas): the fourth and
# last Arrow eval mode (scalar UDF: rerank; mapInPandas: multimodal;
# grouped agg: median). Per-user distribution drift between two
# deterministic event halves as a Kolmogorov–Smirnov statistic — the
# training-data monitoring question "did this user/source's value
# distribution shift between snapshots". Both halves of one user
# arrive as two aligned pandas frames in one Python call; the oracle
# recomputes the KS sup-distance in pure SQL (per-value cumulative
# counts), so the co-grouped Arrow path is hash-checked bit-for-bit
# (micro-unit floor, integer-division-exact CDFs).
# ---------------------------------------------------------------------------
# One cogrouped key's two frames must fit a single pandas call; fail
# loudly instead of OOMing (each row ~16 B in the value frame — 5M
# rows ≈ 80 MB per call, comfortable; tune per executor memory).
DRIFT_KS_MAX_ROWS_PER_KEY = 5_000_000


@query(
    "user_value_drift_ks",
    f"""
    WITH t AS (SELECT user_id, value,
                      CASE WHEN {sql_hash_bucket("event_id", salt="drift")} < 50
                           THEN 'a' ELSE 'b' END AS side
               FROM events),
    p AS (SELECT user_id, value,
                 SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca,
                 SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS cb
          FROM t GROUP BY user_id, value),
    n AS (SELECT user_id, SUM(ca) AS na, SUM(cb) AS nb FROM p GROUP BY user_id),
    c AS (SELECT p.user_id, value,
                 SUM(ca) OVER (PARTITION BY p.user_id ORDER BY value) AS cuma,
                 SUM(cb) OVER (PARTITION BY p.user_id ORDER BY value) AS cumb,
                 na, nb
          FROM p JOIN n USING (user_id)),
    d AS (SELECT user_id, na, nb,
                 MAX(abs(cuma / CAST(na AS DOUBLE) - cumb / CAST(nb AS DOUBLE)))
                   AS ks
          FROM c WHERE na > 0 AND nb > 0 GROUP BY user_id, na, nb)
    SELECT user_id, na::BIGINT AS n_a, nb::BIGINT AS n_b,
           CAST(floor(ks * 1000000.0) AS BIGINT) AS ks_u6
    FROM d
    """,
)
def q_user_value_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_a, n_b, ks_u6): KS sup-distance between the two
    hash-split halves of each user's value distribution. cogroup
    shuffles each side once on user_id and hands BOTH frames of one
    key to a single Arrow call — the join-free alignment that
    two-snapshot comparisons want (vs materializing a values join).
    Users missing either half are dropped (KS undefined). SCALE GUARD:
    one key's full history must fit a single pandas cogroup call, so
    the kernel fails LOUDLY past DRIFT_KS_MAX_ROWS_PER_KEY instead of
    OOMing an executor — past that, pre-bin and use the pure-JVM
    user_value_drift_psi twin below."""
    from ..operators.sampling import hash_bucket

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    side_a = hash_bucket("event_id", 100, "drift") < 50
    a = events.filter(side_a).select("user_id", "value")
    b = events.filter(~side_a).select("user_id", "value")
    # Pin the cogroup's partition count to the session parallelism:
    # AQE coalesces the two shuffles by BYTES (the (user_id, value)
    # rows are ~16 B, so a small corpus lands on a handful of tasks)
    # but the stage's real cost is one Python call + pandas frame pair
    # PER GROUP — invisible to byte-based coalescing. An explicit
    # repartition(N, user_id) satisfies the cogroup's required
    # hash-partitioning (no second exchange) and is exempt from AQE
    # coalescing, spreading the per-group Python cost across all
    # cores (measured 5.3 s → 1.2 s at sf0.1 on 32 cores). N tracks
    # spark.sql.shuffle.partitions — the deployment's scale knob —
    # not a constant, so a real cluster sizes it with its data.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    a = a.repartition(n_part, "user_id")
    b = b.repartition(n_part, "user_id")

    def ks(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(left) + len(right) > DRIFT_KS_MAX_ROWS_PER_KEY:
            raise ValueError(
                "user_value_drift_ks: one key carries "
                f"{len(left) + len(right)} rows, past the single-"
                f"cogroup-call guard ({DRIFT_KS_MAX_ROWS_PER_KEY}). "
                "A pathological key's full history must fit one pandas "
                "call — pre-bin and use user_value_drift_psi (pure-JVM "
                "histogram PSI) for keys at this volume, or raise the "
                "guard if executor memory allows."
            )
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"user_id": [], "n_a": [], "n_b": [], "ks_u6": []}
            ).astype({"user_id": "int64", "n_a": "int64", "n_b": "int64",
                      "ks_u6": "int64"})
        if "value" not in left.columns or "value" not in right.columns:
            # Catalyst prunes cogroup INPUT columns when no downstream
            # consumer reads a value-derived output (e.g. a bare
            # count()). Row multiplicity is value-independent here
            # (one row iff both sides non-empty), so emit it with a
            # placeholder statistic — observationally identical for
            # every plan that triggers the pruning.
            return pd.DataFrame(
                {
                    "user_id": [int(left["user_id"].iloc[0])],
                    "n_a": [len(left)],
                    "n_b": [len(right)],
                    "ks_u6": [0],
                }
            )
        va = np.sort(left["value"].to_numpy())
        vb = np.sort(right["value"].to_numpy())
        pts = np.unique(np.concatenate([va, vb]))
        cdfa = np.searchsorted(va, pts, side="right") / len(va)
        cdfb = np.searchsorted(vb, pts, side="right") / len(vb)
        d = float(np.max(np.abs(cdfa - cdfb)))
        uid = int(left["user_id"].iloc[0])
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_a": [len(va)],
                "n_b": [len(vb)],
                "ks_u6": [int(np.floor(d * 1000000.0))],
            }
        )

    return a.groupBy("user_id").cogroup(b.groupBy("user_id")).applyInPandas(
        ks, "user_id long, n_a long, n_b long, ks_u6 long"
    )


