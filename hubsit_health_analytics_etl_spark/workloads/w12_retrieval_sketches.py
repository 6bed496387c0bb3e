"""Bucketed big-big join, streaming drift, PCA, OPQ stack, histograms, skew diagnosis, I/O maintenance, BM25, CMS heavy hitters, hybrid RRF, phrase search.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w02_dedup import NEW_BATCH_PCT, _minhash_pairs_ctes, _run_scoped_index_dir  # noqa: E402


# ---------------------------------------------------------------------------
# PSI drift — the pure-JVM twin of user_value_drift_ks (whose own
# docstring names this as what a no-Python pipeline would run): per
# user, Population Stability Index between the two hash-split halves
# over B fixed-width value bins. Everything is whole-stage-codegen
# SQL — zero Python stages, plan-asserted — and fully oracle-checked.
#
# Determinism engineering: (a) the per-user PSI is a FLOAT SUM, which
# over an unordered group would not survive the cross-engine hash —
# so bins are collected as a sorted array and folded SEQUENTIALLY
# (aggregate HOF / list_sum over list(... ORDER BY bin)): identical
# addition order, identical doubles; (b) bins empty on BOTH sides all
# contribute the same closed-form smoothing term, so they are COUNTED
# (B - bins_present) instead of materialized — no user×B grid join;
# (c) Laplace smoothing (c+1)/(n+B) keeps every log argument an exact
# ratio of integers, so the only cross-engine float risk is ln()'s
# final ulp (the doc_tfidf_top_terms precedent), absorbed by the
# micro-unit floor.
# ---------------------------------------------------------------------------
DRIFT_PSI_BINS = 10
DRIFT_PSI_ALERT_U6 = 200_000  # the conventional PSI > 0.2 'major shift'


@query(
    "user_value_drift_psi",
    f"""
    WITH t AS (SELECT user_id, value,
                      CASE WHEN {sql_hash_bucket("event_id", salt="drift")} < 50
                           THEN 'a' ELSE 'b' END AS side
               FROM events),
    g AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM t),
    bb AS (SELECT user_id, side,
                  CASE WHEN vmax = vmin THEN 0
                       ELSE CAST(LEAST(FLOOR((value - vmin) * {DRIFT_PSI_BINS}.0
                                             / (vmax - vmin)),
                                       {DRIFT_PSI_BINS - 1}) AS INT) END AS bin
           FROM t CROSS JOIN g),
    p AS (SELECT user_id, bin,
                 SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END)::BIGINT AS ca,
                 SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END)::BIGINT AS cb
          FROM bb GROUP BY user_id, bin),
    u AS (SELECT user_id,
                 SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb,
                 COUNT(*)::BIGINT AS nbins,
                 list({{'ca': ca, 'cb': cb}} ORDER BY bin) AS bins
          FROM p GROUP BY user_id),
    s AS (SELECT user_id, na, nb,
                 list_sum(list_transform(bins, x ->
                     ((x.ca + 1) / CAST(na + {DRIFT_PSI_BINS} AS DOUBLE)
                      - (x.cb + 1) / CAST(nb + {DRIFT_PSI_BINS} AS DOUBLE))
                     * ln(((x.ca + 1) * (nb + {DRIFT_PSI_BINS}))
                          / CAST((x.cb + 1) * (na + {DRIFT_PSI_BINS}) AS DOUBLE))))
                 + ({DRIFT_PSI_BINS} - nbins)
                   * ((1.0 / (na + {DRIFT_PSI_BINS}) - 1.0 / (nb + {DRIFT_PSI_BINS}))
                      * ln((nb + {DRIFT_PSI_BINS})
                           / CAST(na + {DRIFT_PSI_BINS} AS DOUBLE))) AS psi
          FROM u WHERE na > 0 AND nb > 0)
    SELECT user_id, na AS n_a, nb AS n_b,
           CAST(FLOOR(psi * 1000000.0) AS BIGINT) AS psi_u6,
           (CAST(FLOOR(psi * 1000000.0) AS BIGINT)
            >= {DRIFT_PSI_ALERT_U6})::BIGINT AS drifted
    FROM s
    """,
)
def q_user_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_a, n_b, psi_u6, drifted): per-user PSI over
    {DRIFT_PSI_BINS} fixed-width global bins between the same two
    hash-split halves user_value_drift_ks compares — histogram
    pre-aggregation first, so at 100 TB the statistic rides
    \\|users\\|×B pre-binned counts (mergeable across ingests) instead
    of shipping every event row across an Arrow boundary. Two
    shuffles total: (user,bin) counts, then the per-user sorted-bin
    fold. Users missing either half are dropped (PSI undefined, KS
    parity); drifted = psi ≥ 0.2 in micro-units."""
    from ..operators.sampling import hash_bucket

    B = DRIFT_PSI_BINS
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    t = events.select(
        "user_id",
        "value",
        F.when(hash_bucket("event_id", 100, "drift") < 50, "a")
        .otherwise("b")
        .alias("side"),
    )
    g = t.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    bb = t.crossJoin(F.broadcast(g)).select(
        "user_id",
        "side",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * float(B)
                    / (F.col("vmax") - F.col("vmin"))
                ),
                F.lit(B - 1),
            ).cast("int")
        )
        .alias("bin"),
    )
    p = bb.groupBy("user_id", "bin").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    u = p.groupBy("user_id").agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("nbins"),
        F.array_sort(
            F.collect_list(F.struct("bin", "ca", "cb"))
        ).alias("bins"),
    )
    term = (
        f"(x.ca + 1) / cast(na + {B} as double)"
        f" - (x.cb + 1) / cast(nb + {B} as double)"
    )
    lg = (
        f"ln(((x.ca + 1) * (nb + {B}))"
        f" / cast((x.cb + 1) * (na + {B}) as double))"
    )
    empty = (
        f"(1.0D / (na + {B}) - 1.0D / (nb + {B}))"
        f" * ln((nb + {B}) / cast(na + {B} as double))"
    )
    psi = F.expr(
        f"aggregate(bins, 0D, (acc, x) -> acc + ({term}) * ({lg}))"
        f" + ({B} - nbins) * ({empty})"
    )
    s = u.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "user_id", "na", "nb", psi.alias("psi")
    )
    psi_u6 = F.floor(F.col("psi") * 1000000.0).cast("bigint")
    return s.select(
        F.col("user_id"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        psi_u6.alias("psi_u6"),
        (psi_u6 >= F.lit(DRIFT_PSI_ALERT_U6)).cast("bigint").alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Co-located (bucketed) big-big join — the physical-layout lever for
# joins where NEITHER side broadcasts: both tables written bucketed on
# the join key once at ingest, every subsequent join skips its
# exchanges entirely. At 100 TB this is the difference between a
# nightly orders⋈customer costing two full shuffles and costing none;
# the PREPARES fixture is the ingest-time write, the timed body is
# the recurring query (the amortization the bucketing buys), and the
# plan test pins ZERO exchanges below the join.
# ---------------------------------------------------------------------------
_BUCKETED_JOIN_CACHE: dict[str, tuple[str, str]] = {}


def _prepare_bucketed_join(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and customer as external tables bucketed (8) on
    the customer key — memoized per (process, sf_dir); run-scoped
    names/locations so concurrent sessions never collide."""
    got = _BUCKETED_JOIN_CACHE.get(sf_dir)
    if got is not None:
        return got
    import hashlib
    import os

    from ..sources.sinks import write_bucketed_table

    tag = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:10]
    base = _run_scoped_index_dir(f"bucketed_{tag}")
    t_orders, t_cust = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    write_bucketed_table(
        orders, t_orders, "o_custkey", n_buckets=8, sort_col="o_custkey",
        path=os.path.join(base, "orders"),
    )
    write_bucketed_table(
        cust, t_cust, "c_custkey", n_buckets=8, sort_col="c_custkey",
        path=os.path.join(base, "customer"),
    )
    _BUCKETED_JOIN_CACHE[sf_dir] = (t_orders, t_cust)
    return t_orders, t_cust


PREPARES["bucketed_segment_revenue"] = _prepare_bucketed_join


@query(
    "bucketed_segment_revenue",
    """
    SELECT c_mktsegment,
           COUNT(*)::BIGINT AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS receita
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_bucketed_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a ZERO-SHUFFLE big-big join:
    both sides pre-bucketed (8) on the customer key, so the sort-merge
    join reads co-located buckets directly — no exchange below the
    join, plan-asserted; the only shuffle is the final segment
    aggregate. The oracle joins the raw tables, proving the bucketed
    layout changed nothing. The PREPARES write is the once-per-ingest
    cost; this query is the shape every later consumer pays. The MERGE
    hint pins the at-scale strategy: at fixture scale the dim fits a
    broadcast so Catalyst would pick BHJ and the layout never
    exercises — at 100 TB neither side broadcasts and this co-located
    sort-merge (buckets pre-sorted on the key, so not even a Sort
    node) is exactly what runs."""
    t_orders, t_cust = _prepare_bucketed_join(spark, sf_dir)
    orders = spark.table(t_orders)
    cust = spark.table(t_cust).hint("merge")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("receita"),
    )


# ---------------------------------------------------------------------------
# Continuous drift: the STREAMING deployment shape of the PSI monitor
# (streaming/drift.py) verified in batch — per-day value histograms
# scored against a frozen reference distribution. The histogram is
# additive, so the same builder runs as a stateful streaming windowed
# agg (watermark + late data) and as this batch query; the reference
# bounds/histogram are collected ONCE (literal model, like codebooks)
# because a monitor must not let its reference drift with the data it
# judges. Oracle recomputes bounds, reference, per-window histograms
# and the full-B-bin sequential PSI fold from scratch.
# ---------------------------------------------------------------------------
WDRIFT_BINS = 10


@query(
    "windowed_drift_psi",
    f"""
    WITH t AS (SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS tb,
                      value
               FROM events),
    g AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax,
                 COUNT(*)::BIGINT AS nr FROM t),
    b AS (SELECT tb,
                 CASE WHEN vmax = vmin THEN 0
                      ELSE CAST(LEAST(GREATEST(FLOOR((value - vmin) * {WDRIFT_BINS}.0
                                                     / (vmax - vmin)), 0),
                                      {WDRIFT_BINS - 1}) AS INT) END AS bin
          FROM t CROSS JOIN g),
    ref AS (SELECT bin, COUNT(*)::BIGINT AS r FROM b GROUP BY bin),
    refg AS (SELECT t2.bin, COALESCE(ref.r, 0) AS r
             FROM (SELECT unnest(range({WDRIFT_BINS})) AS bin) t2
             LEFT JOIN ref ON ref.bin = t2.bin),
    cur AS (SELECT tb, bin, COUNT(*)::BIGINT AS c FROM b GROUP BY tb, bin),
    wins AS (SELECT tb, SUM(c)::BIGINT AS n_cur FROM cur GROUP BY tb),
    grid AS (SELECT w.tb, w.n_cur, rg.bin, rg.r, COALESCE(cur.c, 0) AS c
             FROM wins w CROSS JOIN refg rg
             LEFT JOIN cur ON cur.tb = w.tb AND cur.bin = rg.bin),
    folded AS (SELECT tb, n_cur,
                      list({{'c': c, 'r': r}} ORDER BY bin) AS lst
               FROM grid GROUP BY tb, n_cur),
    s AS (SELECT tb, n_cur,
                 list_sum(list_transform(lst, x ->
                     ((x.c + 1) / CAST(n_cur + {WDRIFT_BINS} AS DOUBLE)
                      - (x.r + 1) / CAST(g.nr + {WDRIFT_BINS} AS DOUBLE))
                     * ln(((x.c + 1) * (g.nr + {WDRIFT_BINS}))
                          / CAST((x.r + 1) * (n_cur + {WDRIFT_BINS}) AS DOUBLE))))
                 AS psi
          FROM folded CROSS JOIN g)
    SELECT strftime(tb, '%Y-%m-%d %H:%M:%S') AS window_start,
           n_cur,
           CAST(FLOOR(psi * 1000000.0) AS BIGINT) AS psi_u6,
           (CAST(FLOOR(psi * 1000000.0) AS BIGINT) >= {DRIFT_PSI_ALERT_U6})::BIGINT
             AS drifted
    FROM s
    """,
)
def q_windowed_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(window_start, n_cur, psi_u6, drifted): each day's value
    histogram scored by PSI against the frozen whole-corpus reference
    — which calendar days deviate from the norm. The builder pair
    (streaming/drift.py::windowed_value_histogram + psi_vs_reference)
    is streaming-ready: pass a readStream frame + watermark and the
    SAME code becomes the continuous monitor; reference bounds and
    histogram are collected literals (the model), per-window current
    counts ride a map lookup so the window side ships only non-empty
    bins."""
    from ..streaming.drift import (
        psi_vs_reference,
        value_bin_expr,
        windowed_value_histogram,
    )

    events = load_table(spark, sf_dir, "events")
    gb = events.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    ).collect()[0]
    vmin, vmax = float(gb["vmin"]), float(gb["vmax"])
    ref_rows = (
        events.select(
            value_bin_expr("value", vmin, vmax, WDRIFT_BINS).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        .collect()
    )
    reference = [0] * WDRIFT_BINS
    for r in ref_rows:
        reference[int(r["bin"])] = int(r["r"])
    hist = windowed_value_histogram(
        events, "ts", "1 day", "value", vmin, vmax, WDRIFT_BINS
    )
    # assume_merged: windowed_value_histogram's groupBy key IS
    # (window, bin), so rows are unique — skip the defensive merge
    # shuffle and keep the monitor's 2-exchange plan (plan-pinned).
    return psi_vs_reference(
        hist,
        reference,
        ("window_start",),
        WDRIFT_BINS,
        DRIFT_PSI_ALERT_U6,
        assume_merged=True,
    )


# ---------------------------------------------------------------------------
# PCA embedding reduction (distributed Spark ML fit #3, after the
# KMeans coarse quantizer and the LogisticRegression quality model):
# project 64-dim embeddings onto the top PCA_K principal components —
# the dense-rotation compression that PRECEDES quantization in real
# vector pipelines (OPQ ≈ PCA rotation + PQ). Rows-only by
# construction like ann_kmeans_ivf_recall: a distributed eigen-
# decomposition has no cross-engine twin (component signs/order are
# solver-specific); the quality bounds live in pytest — PCA
# reconstruction must beat the mean-only baseline and capture a
# minimum variance share. The OUTPUT is driver-canonicalizable by
# contract (VERDICT r7 #1): scalar columns only — the md5 signature
# of the rounded reduced vector (the embedding_quantize pattern)
# instead of a raw array<float> the gate's canonicalizer cannot hash.
# ---------------------------------------------------------------------------
PCA_K = 16


@query("embedding_pca_reduce")
def q_embedding_pca_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, reduced_sig, energy_kept_u6, recon_err_u6): distributed
    Spark ML PCA fit → k×64 component matrix collected as rounded,
    sign-canonicalized LITERALS (operators/similarity.py::
    pca_components, the PQ-codebook model contract) → map-only
    literal-matmul projection (pca_project_expr, zero Python / zero
    shuffles). Per vector: md5 signature of the 6dp reduced vector,
    kept-energy share |r|²/|x|² in micro-units, and mean reconstruction
    error (|x|²-|r|²)/dim in micro-units — exact via Pythagoras for an
    orthonormal-projection, no second matmul. The 64→16 cut is 4×
    storage before any quantization; ann_opq_adc_topk chains PQ after
    this rotation for the full compression stack. Rows-only by
    construction (the fit); projection/energy bounds in
    tests/test_ext_operators.py. Hash-grade verification: fresh-JVM
    two-session determinism pin + a pure-Python bit-for-bit replay of
    every energy_kept_u6/recon_err_u6 from the component literals
    (tests/test_rows_only_verification.py; subspace optimality vs
    numpy eigendecomposition in test_ext_operators.py)."""
    from ..operators.similarity import pca_components, pca_project_expr

    emb = load_table(spark, sf_dir, "embeddings")
    pc = pca_components(emb, PCA_K)
    dim = len(pc[0])
    v = "cast(embedding as array<double>)"
    out = emb.select(
        "vec_id",
        pca_project_expr(pc).alias("r"),
        F.expr(
            f"aggregate(transform({v}, x -> x * x), 0D, (acc, w) -> acc + w)"
        ).alias("tot"),
    )
    kept = "aggregate(transform(r, x -> x * x), 0D, (acc, w) -> acc + w)"
    return out.select(
        "vec_id",
        F.md5(F.concat_ws(",", F.col("r").cast("array<string>"))).alias(
            "reduced_sig"
        ),
        F.expr(f"cast(floor(1000000.0D * {kept} / tot) as bigint)").alias(
            "energy_kept_u6"
        ),
        F.expr(
            f"cast(floor(greatest(0D, tot - {kept}) * 1000000.0D / {dim}D) "
            "as bigint)"
        ).alias("recon_err_u6"),
    )


# ---------------------------------------------------------------------------
# Composed compression stack (OPQ shape): rotate → PQ encode → ADC
# top-k, the full pipeline a real vector store runs. Two variants:
#
# - ann_rot_pq_adc_topk: deterministic Hadamard rotation (entries
#   ±0.125, exact in binary) — the structured-rotation + PQ recipe.
#   Because the rotation is a data-independent literal, the ENTIRE
#   stack (rotate, codebook train, encode, asymmetric search) is
#   recomputed from scratch by the DuckDB oracle and hash-matched —
#   the composition (sign/order/rounding subtleties of chaining a
#   rotation into quantization) is what the hash covers.
# - ann_opq_adc_topk: PCA-fitted rotation with eigenvalue allocation
#   (round-robin component deal, Ge et al. CVPR'13 §4) — the OPQ
#   initialization proper. The fit is a distributed Spark ML job →
#   rows-only by construction (same posture as ann_pq_trained_recall);
#   pytest pins quantization MSE below the unrotated path and recall
#   floors.
#
# Determinism design: a rotation stage ROUNDS its output, so the
# downstream codebook averages sit on a decimal lattice — label-means
# of lattice values land exactly ON round-half boundaries for ~1/n of
# coordinates, where Spark (BigDecimal HALF_UP on the shortest-repr
# decimal) and DuckDB (double-multiply std::round) disagree by 1 ulp.
# The float PQ chain is therefore NOT composable cross-engine after a
# rounded rotation; this stack instead switches to exact int64
# micro-units right at the rotation (operators/similarity.py
# project_u6_expr + pq_*_u6 family): one measure-zero-boundary round
# of a continuous dot product, then floor-of-average centroids and
# pure integer distances — bitwise engine-independent with zero
# rounding anywhere downstream, which is exactly what the oracle hash
# proves.
# ---------------------------------------------------------------------------
def _rot_pq_u6_oracle() -> str:
    """Full DuckDB rebuild of the Hadamard → micro-unit PQ → ADC
    stack: literal ±0.125 rotation rows, rot coords as
    round(dot·1e6)::BIGINT, floor-of-average integer centroids,
    exact-int64 encode + asymmetric distances, top-{ANN_K}."""
    from ..operators.similarity import (
        EMBED_DIM,
        PQ_M,
        PQ_SUB_DIM,
        U6,
        hadamard_rotation,
    )

    rows = ", ".join(
        f"({j + 1}, [" + ", ".join(str(x) for x in row) + "])"
        for j, row in enumerate(hadamard_rotation())
    )
    cb_selects = " UNION ALL ".join(
        f"SELECT {s} AS s, label, ["
        + ", ".join(
            f"CAST(FLOOR(AVG(rot[{s * PQ_SUB_DIM + i + 1}])) AS BIGINT)"
            for i in range(PQ_SUB_DIM)
        )
        + "] AS centroid FROM rotu GROUP BY label"
        for s in range(PQ_M)
    )
    sq = (
        f"(x.rot[CAST(y.s * {PQ_SUB_DIM} AS INT) + CAST(i AS INT)]"
        f" - y.centroid[CAST(i AS INT)])"
    )
    return f"""
    WITH hm(j, hrow) AS (SELECT * FROM (VALUES {rows}) AS t(j, hrow)),
    rotu AS (SELECT e.vec_id, e.label,
                    list(CAST(ROUND(list_sum(list_transform(range(1, {EMBED_DIM + 1}),
                         i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                              * hm.hrow[CAST(i AS INT)])) * {U6}.0, 0) AS BIGINT)
                         ORDER BY hm.j) AS rot
             FROM embeddings e CROSS JOIN hm
             GROUP BY e.vec_id, e.label),
    cb AS ({cb_selects}),
    lab AS (SELECT s, label, centroid,
                   ROW_NUMBER() OVER (PARTITION BY s ORDER BY label) - 1 AS k
            FROM cb),
    scored AS (SELECT x.vec_id, y.s, y.k,
                      list_sum(list_transform(range(1, {PQ_SUB_DIM + 1}),
                            i -> {sq} * {sq})) AS d
               FROM rotu x, lab y),
    ranked AS (SELECT vec_id, s, k, d,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                         ORDER BY d, k) AS rn
               FROM scored),
    chosen AS (SELECT vec_id, s, k AS code FROM ranked WHERE rn = 1),
    qv AS (SELECT vec_id AS query_id, rot FROM rotu
           WHERE vec_id < {ANN_QUERY_LIMIT}),
    adc AS (SELECT x.query_id, ch.vec_id AS neighbor_id,
                   CAST(SUM(list_sum(list_transform(range(1, {PQ_SUB_DIM + 1}),
                         i -> (x.rot[CAST(ch.s * {PQ_SUB_DIM} AS INT) + CAST(i AS INT)]
                               - y.centroid[CAST(i AS INT)])
                              * (x.rot[CAST(ch.s * {PQ_SUB_DIM} AS INT) + CAST(i AS INT)]
                                 - y.centroid[CAST(i AS INT)])))) AS BIGINT) AS adc_u
            FROM qv x
            JOIN chosen ch ON x.query_id <> ch.vec_id
            JOIN lab y ON y.s = ch.s AND y.k = ch.code
            GROUP BY x.query_id, ch.vec_id),
    rk AS (SELECT query_id, neighbor_id, adc_u,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_u, neighbor_id) AS rank
           FROM adc)
    SELECT query_id, neighbor_id, adc_u, rank::BIGINT AS rank
    FROM rk WHERE rank <= {ANN_K}
    """


def _rot_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    components: list[list[float]],
    k: int = ANN_K,
) -> DataFrame:
    """Shared Spark body for both rotation variants: project onto
    literal ``components`` straight into int64 micro-units, train
    floor-of-average integer codebooks on the ROTATED corpus, encode,
    then exact-int64 asymmetric top-{ANN_K} with broadcast rotated
    queries. One shuffle (codebook groupBy) + one window; the ADC scan
    is map-only over (vec_id, 8 codes). At 100 TB the rotated
    micro-unit corpus is written once at ingest (map-only) and only
    the codes table is ever scanned at query time."""
    from pyspark.sql import Window

    from ..operators.similarity import (
        pq_adc_u6_dist_expr,
        pq_codebooks_floor_u6,
        pq_encode_u6_exprs,
        project_u6_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rot = spread(emb).select(
        "vec_id", "label", project_u6_expr(components, "embedding").alias("rot")
    )
    cb = pq_codebooks_floor_u6(rot, vec_col="rot")
    codes, _ = pq_encode_u6_exprs(cb, vec_col="rot")
    corpus_codes = rot.select("vec_id", codes.alias("codes"))
    q = rot.filter(F.col("vec_id") < ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), F.col("rot").alias("q_vec")
    )
    pairs = corpus_codes.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        pq_adc_u6_dist_expr(cb).alias("adc_u"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_u").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_u",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query("ann_rot_pq_adc_topk", _rot_pq_u6_oracle())
def q_ann_rot_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hadamard-rotation → PQ → ADC top-k, FULLY hash-checked: the
    oracle rebuilds the rotation (literal ±0.125 Hadamard rows —
    operators/similarity.py::hadamard_rotation), the micro-unit
    rotated corpus, the integer codebooks, every code assignment, and
    the exact-int64 asymmetric distances from scratch in SQL — so the
    cross-engine hash pins the whole rotate→quantize composition, not
    just one stage. The rotation is orthonormal, so ADC distances
    approximate the SAME original-space L2 geometry as the unrotated
    ann_pq_adc_topk path (adc_u ≈ L2²·1e12) while decorrelating
    coordinates before the per-subspace quantizer."""
    from ..operators.similarity import hadamard_rotation

    return _rot_pq_topk(spark, sf_dir, hadamard_rotation())


@query("ann_opq_adc_topk")  # rows-only by construction: PCA fit (see docstring)
def q_ann_opq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-initialization ANN: full-rank PCA rotation (Spark ML fit,
    sign-canonicalized literal components) with eigenvalue allocation
    — components dealt round-robin across the PQ subspaces so each
    codebook sees a balanced slice of the variance spectrum
    (operators/similarity.py::opq_balance_components) — then the same
    micro-unit PQ encode → ADC top-k body as ann_rot_pq_adc_topk.
    Closes the docstring promise at embedding_pca_reduce: the full
    rotate→quantize compression stack in one query. No DuckDB oracle
    BY CONSTRUCTION (the distributed eigensolver fit, same posture as
    ann_pq_trained_recall); pytest pins the OPQ quantization MSE below
    the unrotated AND the contiguous-slice PCA paths plus recall
    floors, and plan tests forbid cartesians. Hash-grade verification:
    fresh-JVM two-session determinism pin + the ann_rot_pq_adc_topk-
    precedent numpy int64 replica (every adc_u bit-for-bit from the
    collected OPQ components) in tests/test_rows_only_verification.py."""
    from ..operators.similarity import (
        EMBED_DIM,
        opq_balance_components,
        pca_components,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    comps = pca_components(emb, EMBED_DIM)
    return _rot_pq_topk(spark, sf_dir, opq_balance_components(comps))



# ---------------------------------------------------------------------------
# Duplicate-cluster size histogram: the curation dashboard number —
# "how duplicated is this corpus" as a count-of-counts over the same
# exact∪MinHash duplicate graph. Singletons included (cluster_size=1
# = unique docs), dedup rate derivable as 1 - Σkeepers/Σdocs. Two
# nested aggregations ride the clustering output; the heavy lifting
# is the shared CC pass dedup_clusters already pins.
# ---------------------------------------------------------------------------
@query(
    "dedup_cluster_size_histogram",
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
    sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp
              GROUP BY component)
    SELECT cluster_size::BIGINT AS cluster_size,
           COUNT(*)::BIGINT AS n_clusters,
           (cluster_size * COUNT(*))::BIGINT AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
)
def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_size, n_clusters, n_docs): count-of-counts over the
    duplicate clusters, singletons included."""
    from ..operators.clusters import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    near = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = near.unionByName(exact_dup_edges(docs))
    clusters = dedup_clusters(docs, edges)  # (component, n_members, keeper)
    return clusters.groupBy(
        F.col("n_members").cast("bigint").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Key-skew diagnosis: the report you run BEFORE choosing a salting
# strategy — the top heavy keys, their row share, and the derived
# salt factor that brings each under the per-task row target.
# Completes the skew family's detect→mitigate story next to
# salted_event_totals / salted_priority_join.
# ---------------------------------------------------------------------------
SKEW_TOP = 10
SKEW_TARGET_ROWS = 500  # per-task row target at fixture scale


@query(
    "event_user_skew_report",
    f"""
    WITH c AS (SELECT user_id AS key_value, COUNT(*)::BIGINT AS n_rows
               FROM events GROUP BY user_id),
    t AS (SELECT SUM(n_rows) AS total FROM c),
    r AS (SELECT key_value, n_rows,
                 ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value) AS rank
          FROM c)
    SELECT rank::BIGINT AS rank, key_value, n_rows,
           ROUND(n_rows / CAST(t.total AS DOUBLE), 6) AS row_share,
           CAST(ceil(n_rows / {SKEW_TARGET_ROWS}.0) AS BIGINT) AS salt_factor
    FROM r CROSS JOIN t WHERE rank <= {SKEW_TOP}
    """,
)
def q_event_user_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/skew.py::key_skew_report over events.user_id."""
    from ..operators.skew import key_skew_report

    events = load_table(spark, sf_dir, "events")
    return key_skew_report(
        events, "user_id", top=SKEW_TOP, target_rows_per_task=SKEW_TARGET_ROWS
    )


# ---------------------------------------------------------------------------
# Driver-visible rows for the I/O maintenance ops (previously
# pytest-only; VERDICT r7 #6): each query performs the REAL
# side-effecting round-trip in a run-private directory and emits the
# oracle-checkable read-back facts. The hash match covers what SQL
# can re-derive (shard membership, row counts); byte-level assertions
# (file counts, manifest tamper detection, crash recovery) stay in
# tests/test_export_manifest.py and tests/test_bucketing_partitioning.py.
# ---------------------------------------------------------------------------
EXPORT_SHARDS = 8


@query(
    "export_manifest_roundtrip",
    f"""
    SELECT {sql_hash_bucket("doc_id", EXPORT_SHARDS, "shard")}::BIGINT AS shard,
           COUNT(*)::BIGINT AS n_rows,
           1::BIGINT AS verified
    FROM documents GROUP BY 1
    """,
)
def q_export_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full export→manifest→re-read→verify round-trip: documents
    (id/source/lang projection) hash-sharded into {EXPORT_SHARDS}
    parquet shards with an order-independent content manifest
    (sources/export.py), then verify_export re-reads the dump and
    checks every shard. Output: one row per shard (shard, n_rows,
    verified) — the oracle independently recomputes shard membership
    and counts from the source table, so a hash match proves the dump
    on disk holds exactly the rows the table says it should; verified
    flips to 0 (hash mismatch vs the oracle's constant 1) if the
    manifest check finds ANY problem."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ..sources.export import export_training_shards, verify_export

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    out_dir = _run_scoped_index_dir("export") + "/dump"
    export_training_shards(docs, out_dir, EXPORT_SHARDS, "doc_id")
    ok = 1 if not verify_export(spark, out_dir) else 0
    dump = spark.read.parquet(out_dir)
    return dump.groupBy(F.col("_shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(ok).cast("bigint").alias("verified"),
    )


@query(
    "compaction_roundtrip",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           1::BIGINT AS rows_preserved,
           1::BIGINT AS files_reduced
    FROM orders
    """,
)
def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fragment→compact→read-back round-trip: orders written as
    64 deliberately small files, compacted via
    sources/compaction.py::compact_parquet (crash-recoverable
    verify-before-swap), then re-read. One row: (n_rows,
    rows_preserved, files_reduced) — n_rows hash-matches the oracle's
    source count only if the compacted directory still holds every
    row; the two flags flip to 0 on row loss or a rewrite that failed
    to shrink the file count."""
    from ..sources.compaction import compact_parquet, parquet_file_stats

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = _run_scoped_index_dir("compact") + "/orders"
    # lint: fixture-files — 64 small files IS the compaction scenario
    orders.repartition(64).write.parquet(path)
    n_before = parquet_file_stats(path)[0]
    n_src = orders.count()
    compact_parquet(spark, path)
    n_after = parquet_file_stats(path)[0]
    back = spark.read.parquet(path)
    n_back = back.count()
    return spark.range(1).select(
        F.lit(n_back).cast("bigint").alias("n_rows"),
        F.lit(1 if n_back == n_src else 0).cast("bigint").alias("rows_preserved"),
        F.lit(1 if n_after < n_before else 0).cast("bigint").alias("files_reduced"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — lexical top-k search over the corpus for a
# fixed query set (the retrieval-side sibling of semantic ANN search:
# retrieval-based decontamination and eval-mining run exactly this).
# Builder + scoring formula: operators/textanalysis.py::bm25_scores
# (Okapi BM25, Lucene idf). Determinism: the per-(query,doc) term sum
# folds a token-sorted array sequentially (PSI precedent), every
# subexpression of the contribution is parenthesized identically on
# both engines (BM25_CONTRIB_SQL is the shared text), and ranking is
# on the micro-unit floor with doc_id tie-break.
# ---------------------------------------------------------------------------
from ..operators.sketches import (  # noqa: E402 — section-local import
    CMS_DEPTH,
    CMS_WIDTH,
    duckdb_cms_bucket_sql,
)
from ..operators.textanalysis import BM25_CONTRIB_SQL  # noqa: E402

BM25_QUERY_SET = [
    ("q0", "spark"),
    ("q0", "table"),
    ("q1", "hash"),
    ("q1", "join"),
    ("q1", "fast"),
    ("q2", "vector"),
    ("q2", "scan"),
    ("q2", "merge"),
]
BM25_TOP = 10
_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERY_SET)


def _bm25_oracle(src: str = "documents", prelude: str = "") -> str:
    """From-scratch BM25 SQL over table/CTE ``src`` (``prelude``: extra
    leading CTEs, e.g. the forget-flow keep-list). src="documents"
    with no prelude renders the byte-identical text the hash-certified
    bm25_search family has always used."""
    return f"""
    WITH {prelude}tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                 FROM {src}),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    tf AS (SELECT doc_id, token, COUNT(*)::DOUBLE AS tf
           FROM t GROUP BY doc_id, token),
    dl AS (SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM t GROUP BY doc_id),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id)::DOUBLE AS df
              FROM t GROUP BY token),
    stats AS (SELECT (SELECT COUNT(*)::DOUBLE FROM {src}) AS n_docs,
                     (SELECT COUNT(*)::DOUBLE FROM t)
                       / (SELECT COUNT(*)::DOUBLE FROM {src}) AS avgdl),
    q AS (SELECT * FROM (VALUES {_BM25_VALUES}) v(query_id, token)),
    contrib AS (SELECT query_id, tf.doc_id, tf.token, {BM25_CONTRIB_SQL} AS w
                FROM tf JOIN q USING (token) JOIN dfreq USING (token)
                JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats),
    s AS (SELECT query_id, doc_id,
                 CAST(floor(list_sum(list(w ORDER BY token)) * 1000000.0)
                      AS BIGINT) AS score_u6
          FROM contrib GROUP BY query_id, doc_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score_u6 DESC, doc_id) AS rk
          FROM s)
    SELECT query_id, doc_id, score_u6, rk::BIGINT AS rk
    FROM r WHERE rk <= {BM25_TOP}
    """


_BM25_ORACLE = _bm25_oracle()


def _bm25_ranked(scores: DataFrame) -> DataFrame:
    """Two-phase salted top-{BM25_TOP} over (query_id, doc_id, score):
    phase 1 ranks within (query_id, salt), phase 2 over the <= salts*k
    survivors — same ordering both phases (score_u6 DESC, doc_id), so
    the result is identical to one global window (what the oracle
    runs) with no task ever sorting a whole query's match list."""
    from pyspark.sql import Window

    s = scores.select(
        "query_id",
        "doc_id",
        F.floor(F.col("score") * 1000000.0).cast("bigint").alias("score_u6"),
    )
    salted = s.withColumn("salt", F.col("doc_id") % 8)
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        F.col("score_u6").desc(), F.col("doc_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score_u6").desc(), F.col("doc_id")
    )
    return (
        salted.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= BM25_TOP)
        .withColumn("rk", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rk") <= BM25_TOP)
        .select("query_id", "doc_id", "score_u6", "rk")
    )


def _bm25_qterms(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        BM25_QUERY_SET, "query_id string, token string"
    )


@query("bm25_search", _BM25_ORACLE)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOP} documents per query by BM25. The query set is a
    broadcast literal; scoring is operators/textanalysis.py::
    bm25_scores (see its docstring for the shuffle layout — tf/df
    aggregates only; df is the persisted-vocabulary posture at scale).
    The final per-query top-k is TWO-PHASE (per-salt top-k, then
    global top-k over ≤ salts·k survivors) so no single task ever
    sorts a whole query's match list — the window-skew posture for a
    query set whose matches are corpus-sized. Both phases share the
    ordering (score_u6 DESC, doc_id), so phase 2's result is
    identical to a single global window, which is what the oracle
    runs."""
    from ..operators.textanalysis import bm25_scores

    docs = spread(load_table(spark, sf_dir, "documents"))
    return _bm25_ranked(bm25_scores(docs, _bm25_qterms(spark)))


_TERM_INDEX_CACHE: dict[str, str] = {}


def _prepare_term_index(spark: SparkSession, sf_dir: str) -> str:
    """Write-time half of bm25_search_indexed, memoized per (process,
    sf_dir): materialize corpus_term_stats — tf / dl / dfreq / the
    1-row stats — as four parquet tables, the standing SEARCH INDEX a
    retrieval deployment maintains per ingest (the vocabulary-index
    posture, extended with per-(doc,token) tf and doc lengths).
    Run-scoped path so concurrent sessions never race."""
    got = _TERM_INDEX_CACHE.get(sf_dir)
    if got is not None:
        return got
    import os

    from ..operators.textanalysis import corpus_term_stats
    from ..sources.sinks import write_parquet

    base = _run_scoped_index_dir("term_index")
    docs = spread(load_table(spark, sf_dir, "documents"))
    tf, dl, dfreq, stats = corpus_term_stats(docs)
    # "raw" = the EXACT-INTEGER corpus totals behind stats' derived
    # doubles — the mergeable/subtractable form bm25_forget needs
    # (avgdl cannot be exactly un-divided back into n_toks)
    raw = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).crossJoin(
        F.broadcast(
            dl.agg(
                F.coalesce(F.sum("dl_l"), F.lit(0))
                .cast("bigint")
                .alias("n_toks")
            )
        )
    )
    for name, df in [
        ("tf", tf),
        ("dl", dl),
        ("dfreq", dfreq),
        ("stats", stats),
        ("raw", raw),
    ]:
        write_parquet(df, os.path.join(base, name))
    _TERM_INDEX_CACHE[sf_dir] = base
    return base


PREPARES["bm25_search_indexed"] = _prepare_term_index


@query("bm25_search_indexed", _BM25_ORACLE)
def q_bm25_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as bm25_search, zero query-time corpus passes: the
    term-stats index (tf/dl/dfreq/stats) was materialized at ingest
    (PREPARES), so the timed query is index-scan -> broadcast term
    join -> fold -> two-phase top-k — the amortized per-query cost of
    a standing search index, the posture bm25_search's docstring
    promises at 100 TB. The oracle recomputes every statistic from the
    raw corpus, proving the materialization changed nothing."""
    import os

    from ..operators.textanalysis import bm25_scores

    from ..sources.parquet import read_parquet_immutable

    base = _prepare_term_index(spark, sf_dir)
    term_stats = tuple(
        read_parquet_immutable(spark, os.path.join(base, name))
        for name in ["tf", "dl", "dfreq", "stats"]
    )
    scores = bm25_scores(None, _bm25_qterms(spark), term_stats=term_stats)
    return _bm25_ranked(scores)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — constant-state frequency estimation
# over the event stream's user key (operators/sketches.py for the
# posture: the shuffle carries tasks·depth·width counters, never the
# key space). The registered query reports the top-N users by
# ESTIMATED count next to their exact counts, so the sketch's one-
# sided error (est ≥ exact, bounded overcount) is visible — and
# oracle-checked exactly, because the DuckDB twin rebuilds the
# identical md5-salted sketch (integer-only comparison).
# ---------------------------------------------------------------------------
CMS_TOP = 20
_CMS_BUCKET_OF_I = duckdb_cms_bucket_sql("user_id", "i", CMS_WIDTH)
_CMS_BUCKET_OF_KI = duckdb_cms_bucket_sql("k.user_id", "d.i", CMS_WIDTH)

# Shared by heavy_hitters_cms AND cms_new_batch: the incremental
# variant's oracle is the full recompute VERBATIM — counter grids are
# elementwise-additive over disjoint event slices, so merged == from-
# scratch exactly, and the hash match proves it (the vocab_new_batch
# posture).
def _cms_oracle(src: str = "events", prelude: str = "") -> str:
    """Full-recompute CMS heavy-hitter SQL over table/CTE ``src``
    (``prelude``: extra leading CTEs). src="events" with no prelude
    renders the byte-identical text heavy_hitters_cms/cms_new_batch
    were hash-certified with."""
    return f"""
    WITH {prelude}d AS (SELECT unnest(range({CMS_DEPTH})) AS i),
    counters AS (SELECT i, {_CMS_BUCKET_OF_I} AS bucket, COUNT(*)::BIGINT AS c
                 FROM {src} CROSS JOIN d GROUP BY i, bucket),
    keys AS (SELECT DISTINCT user_id FROM {src}),
    est AS (SELECT k.user_id, MIN(c.c)::BIGINT AS est_count
            FROM keys k CROSS JOIN d
            JOIN counters c ON c.i = d.i AND c.bucket = {_CMS_BUCKET_OF_KI}
            GROUP BY k.user_id),
    exact AS (SELECT user_id, COUNT(*)::BIGINT AS exact_count
              FROM {src} GROUP BY user_id),
    r AS (SELECT e.user_id, e.est_count, x.exact_count,
                 (e.est_count - x.exact_count)::BIGINT AS overcount,
                 ROW_NUMBER() OVER (ORDER BY e.est_count DESC, e.user_id)
                   AS rk
          FROM est e JOIN exact x USING (user_id))
    SELECT user_id, est_count, exact_count, overcount, rk::BIGINT AS rk
    FROM r WHERE rk <= {CMS_TOP}
    """


_CMS_ORACLE = _cms_oracle()


@query("heavy_hitters_cms", _CMS_ORACLE)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CMS_TOP} heavy-hitter users from a depth×width count-min
    sketch of events.user_id, with exact counts alongside. The probe
    candidate set here is the table's own distinct keys (one key
    shuffle — at scale the candidates come from the sketch's paired
    heavy-hitter stream or an external watchlist, and the sketch
    itself never shuffles keys). overcount = est − exact ≥ 0 is the
    sketch's collision bias, pinned exactly by the oracle."""
    from ..operators.sketches import cms_counters

    events = load_table(spark, sf_dir, "events").select("user_id")
    return _cms_heavy_hitter_report(events, cms_counters(events, "user_id"))


# ---------------------------------------------------------------------------
# Hybrid retrieval (query-by-example): more-like-this BM25 + embedding
# cosine, fused by reciprocal-rank fusion (Cormack et al. 2009). The
# composite a retrieval-backed curation pipeline actually runs — pure
# lexical misses paraphrases, pure semantic misses rare exact terms;
# RRF needs no score calibration because it consumes only RANKS, which
# also makes the fusion ALL-INTEGER here (1e9 div (60+rank), exact on
# both engines) — the float surfaces are confined to the two source
# rankings, each already determinism-pinned (BM25_CONTRIB_SQL fold;
# dot/norm sequential folds == DuckDB list_dot_product).
# vec_id ≡ doc_id per the fixture contract semantic_decontamination
# already relies on.
# ---------------------------------------------------------------------------
HYBRID_QUERY_DOCS = [0, 1, 2]  # dense-from-0 doc keys: valid at every SF
HYBRID_MLT_TERMS = 5
HYBRID_K = 10
RRF_C = 60
_HYBRID_DOCS_IN = ", ".join(str(d) for d in HYBRID_QUERY_DOCS)


_HYBRID_ORACLE = f"""
    WITH t0 AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                FROM documents),
    t AS (SELECT doc_id, token FROM t0 WHERE token <> ''),
    tf AS (SELECT doc_id, token, COUNT(*)::DOUBLE AS tf
           FROM t GROUP BY doc_id, token),
    dl AS (SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM t GROUP BY doc_id),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id)::DOUBLE AS df
              FROM t GROUP BY token),
    stats AS (SELECT (SELECT COUNT(*)::DOUBLE FROM documents) AS n_docs,
                     (SELECT COUNT(*)::DOUBLE FROM t)
                       / (SELECT COUNT(*)::DOUBLE FROM documents) AS avgdl),
    qw AS (SELECT tf.doc_id AS query_doc, tf.token,
                  CAST(floor((tf.tf * ln(stats.n_docs / dfreq.df))
                             * 1000000.0) AS BIGINT) AS w_u6
           FROM tf JOIN dfreq USING (token) CROSS JOIN stats
           WHERE tf.doc_id IN ({_HYBRID_DOCS_IN})),
    qsel AS (SELECT query_doc, token FROM (
               SELECT query_doc, token,
                      ROW_NUMBER() OVER (PARTITION BY query_doc
                                         ORDER BY w_u6 DESC, token) AS trk
               FROM qw) WHERE trk <= {HYBRID_MLT_TERMS}),
    contrib AS (SELECT qsel.query_doc, tf.doc_id, tf.token,
                       {BM25_CONTRIB_SQL} AS w
                FROM tf JOIN qsel USING (token) JOIN dfreq USING (token)
                JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
                WHERE tf.doc_id <> qsel.query_doc),
    lex AS (SELECT query_doc, doc_id,
                   CAST(floor(list_sum(list(w ORDER BY token)) * 1000000.0)
                        AS BIGINT) AS score_u6
            FROM contrib GROUP BY query_doc, doc_id),
    lexr AS (SELECT query_doc, doc_id, lex_rk FROM (
               SELECT query_doc, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY query_doc
                                         ORDER BY score_u6 DESC, doc_id)
                        AS lex_rk
               FROM lex) WHERE lex_rk <= {HYBRID_K}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT vec_id AS query_doc, v FROM e
           WHERE vec_id IN ({_HYBRID_DOCS_IN})),
    cos AS (SELECT qv.query_doc, e.vec_id AS doc_id,
                   CAST(floor((list_dot_product(qv.v, e.v)
                         / (sqrt(list_dot_product(qv.v, qv.v))
                            * sqrt(list_dot_product(e.v, e.v))))
                        * 1000000.0) AS BIGINT) AS cos_u6
            FROM qv JOIN e ON e.vec_id <> qv.query_doc),
    semr AS (SELECT query_doc, doc_id, sem_rk FROM (
               SELECT query_doc, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY query_doc
                                         ORDER BY cos_u6 DESC, doc_id)
                        AS sem_rk
               FROM cos) WHERE sem_rk <= {HYBRID_K}),
    fused AS (SELECT COALESCE(l.query_doc, s.query_doc) AS query_doc,
                     COALESCE(l.doc_id, s.doc_id) AS doc_id,
                     (COALESCE(1000000000 // ({RRF_C} + l.lex_rk), 0)
                      + COALESCE(1000000000 // ({RRF_C} + s.sem_rk), 0))
                       ::BIGINT AS rrf_u9,
                     COALESCE(l.lex_rk, 0)::BIGINT AS lex_rk,
                     COALESCE(s.sem_rk, 0)::BIGINT AS sem_rk
              FROM lexr l FULL OUTER JOIN semr s
                ON l.query_doc = s.query_doc AND l.doc_id = s.doc_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
                                       ORDER BY rrf_u9 DESC, doc_id) AS rk
          FROM fused)
    SELECT query_doc, doc_id, rrf_u9, lex_rk, sem_rk, rk::BIGINT AS rk
    FROM r WHERE rk <= {HYBRID_K}
    """


@query("hybrid_rrf_search", _HYBRID_ORACLE)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid top-{HYBRID_K} per query document: (a) LEXICAL — the
    query doc's top-{HYBRID_MLT_TERMS} tf·idf terms (the
    doc_tfidf_top_terms weighting) feed operators/textanalysis.py::
    bm25_scores as a more-like-this query; (b) SEMANTIC — exact cosine
    from the query doc's embedding (vec_id ≡ doc_id), the tiny query
    side broadcast so the corpus never shuffles; (c) FUSION —
    rrf_u9 = Σ 1e9 div ({RRF_C}+rank) over the sources that ranked the
    doc (0-rank = absent), integer-exact. Self-matches excluded from
    both sources. Each source ranking is two-phase salted top-k
    (the bm25_search posture); the fusion full-outer join and final
    rank touch ≤ 2·{HYBRID_K} rows per query."""
    from pyspark.sql import Window

    from ..operators.similarity import dot_expr, norm_expr
    from ..operators.textanalysis import bm25_scores, corpus_term_stats, rrf_fuse

    docs = spread(load_table(spark, sf_dir, "documents"))

    # ONE corpus pass (explode → tf) shared by MLT term selection and
    # the BM25 scoring below — dl/df/avgdl derive from tf
    term_stats = corpus_term_stats(docs)
    tf, _dl, dfreq, st = term_stats

    # (a) lexical: MLT term selection on the query docs only
    qw = (
        tf.filter(F.col("doc_id").isin(HYBRID_QUERY_DOCS))
        .join(dfreq, "token")
        .crossJoin(F.broadcast(st.select("n_docs")))
        .select(
            F.col("doc_id").alias("query_doc"),
            "token",
            F.floor(
                (
                    F.col("tf_l").cast("double")
                    * F.log(F.col("n_docs") / F.col("df_l").cast("double"))
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("w_u6"),
        )
    )
    wt = Window.partitionBy("query_doc").orderBy(
        F.col("w_u6").desc(), F.col("token")
    )
    qterms = (
        qw.withColumn("trk", F.row_number().over(wt))
        .filter(F.col("trk") <= HYBRID_MLT_TERMS)
        .select(F.col("query_doc").alias("query_id"), "token")
    )
    lex = (
        bm25_scores(docs, F.broadcast(qterms), term_stats=term_stats)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            F.col("query_id").alias("query_doc"),
            "doc_id",
            F.floor(F.col("score") * 1000000.0).cast("bigint").alias("s_u6"),
        )
    )

    lexr = _hybrid_two_phase_topk(lex, "s_u6", "lex_rk")

    # (b) semantic: broadcast query vectors, map-side cosine
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", norm_expr("embedding").alias("nrm")
    )
    qv = emb.filter(F.col("vec_id").isin(HYBRID_QUERY_DOCS)).select(
        F.col("vec_id").alias("query_doc"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    cos = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("query_doc"))
        .select(
            "query_doc",
            F.col("vec_id").alias("doc_id"),
            F.floor(
                (dot_expr("qvec", "embedding") / (F.col("qn") * F.col("nrm")))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("cos_u6"),
        )
    )
    semr = _hybrid_two_phase_topk(cos, "cos_u6", "sem_rk")
    return _hybrid_fuse(lexr, semr)


def _hybrid_two_phase_topk(scored, score_col, rank_name):
    """Two-phase salted per-query top-{HYBRID_K} (shared by the
    from-scratch and indexed hybrid queries): same ordering both
    phases, so the result equals one global window with no task ever
    sorting a whole query's match list."""
    from pyspark.sql import Window

    salted = scored.withColumn("salt", F.col("doc_id") % 8)
    w1 = Window.partitionBy("query_doc", "salt").orderBy(
        F.col(score_col).desc(), F.col("doc_id")
    )
    w2 = Window.partitionBy("query_doc").orderBy(
        F.col(score_col).desc(), F.col("doc_id")
    )
    return (
        salted.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= HYBRID_K)
        .withColumn(rank_name, F.row_number().over(w2))
        .filter(F.col(rank_name) <= HYBRID_K)
        .select("query_doc", "doc_id", rank_name)
    )


def _hybrid_fuse(lexr, semr):
    """All-integer RRF fusion + final rank over ≤ 2·{HYBRID_K} rows
    per query (shared tail of both hybrid queries)."""
    from pyspark.sql import Window

    from ..operators.textanalysis import rrf_fuse

    fused = rrf_fuse(lexr, semr, "lex_rk", "sem_rk", RRF_C)
    wf = Window.partitionBy("query_doc").orderBy(
        F.col("rrf_u9").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rk") <= HYBRID_K)
        .select("query_doc", "doc_id", "rrf_u9", "lex_rk", "sem_rk", "rk")
    )


_EMB_NORM_INDEX_CACHE: dict[str, str] = {}


def _prepare_embedding_norm_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist (vec_id, embedding, nrm) — the corpus-side vector table
    with norms precomputed ONCE at ingest (the write-time half of the
    semantic source in hybrid_rrf_indexed), memoized per (process,
    sf_dir)."""
    got = _EMB_NORM_INDEX_CACHE.get(sf_dir)
    if got is not None:
        return got
    import os

    from ..operators.similarity import norm_expr
    from ..sources.sinks import write_parquet

    base = _run_scoped_index_dir("emb_norm")
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", norm_expr("embedding").alias("nrm")
    )
    write_parquet(emb, os.path.join(base, "norms"))
    _EMB_NORM_INDEX_CACHE[sf_dir] = base
    return base


def _prepare_hybrid_indexes(spark: SparkSession, sf_dir: str):
    """Both standing indexes the indexed hybrid query probes."""
    return (
        _prepare_term_index(spark, sf_dir),
        _prepare_embedding_norm_index(spark, sf_dir),
    )


PREPARES["hybrid_rrf_indexed"] = _prepare_hybrid_indexes


@query("hybrid_rrf_indexed", _HYBRID_ORACLE)
def q_hybrid_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as hybrid_rrf_search with ZERO query-time corpus
    passes — the amortized posture of a standing retrieval deployment
    (the bm25_search_indexed contract extended to the whole hybrid
    stack): the LEXICAL side probes the materialized term index
    (tf/dl/dfreq/stats — MLT term selection reads the query docs' tf
    rows from the index, never a tokenizer) and the SEMANTIC side
    reads the (vec_id, embedding, nrm) norm index, so neither side
    re-tokenizes text or re-norms vectors (plan-pinned: no Generate,
    no documents scan, no sqrt-fold over the corpus). Fusion tail
    shared verbatim. The oracle recomputes every statistic from the
    raw corpus — materialization changed nothing, cryptographically."""
    import os

    from pyspark.sql import Window

    from ..operators.textanalysis import bm25_scores

    from ..sources.parquet import read_parquet_immutable

    term_base, emb_base = _prepare_hybrid_indexes(spark, sf_dir)
    tf, dl, dfreq, st = (
        read_parquet_immutable(spark, os.path.join(term_base, name))
        for name in ["tf", "dl", "dfreq", "stats"]
    )
    term_stats = (tf, dl, dfreq, st)

    qw = (
        tf.filter(F.col("doc_id").isin(HYBRID_QUERY_DOCS))
        .join(dfreq, "token")
        .crossJoin(F.broadcast(st.select("n_docs")))
        .select(
            F.col("doc_id").alias("query_doc"),
            "token",
            F.floor(
                (
                    F.col("tf_l").cast("double")
                    * F.log(F.col("n_docs") / F.col("df_l").cast("double"))
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("w_u6"),
        )
    )
    wt = Window.partitionBy("query_doc").orderBy(
        F.col("w_u6").desc(), F.col("token")
    )
    qterms = (
        qw.withColumn("trk", F.row_number().over(wt))
        .filter(F.col("trk") <= HYBRID_MLT_TERMS)
        .select(F.col("query_doc").alias("query_id"), "token")
    )
    lex = (
        bm25_scores(None, F.broadcast(qterms), term_stats=term_stats)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            F.col("query_id").alias("query_doc"),
            "doc_id",
            F.floor(F.col("score") * 1000000.0).cast("bigint").alias("s_u6"),
        )
    )
    lexr = _hybrid_two_phase_topk(lex, "s_u6", "lex_rk")

    emb = read_parquet_immutable(spark, os.path.join(emb_base, "norms"))
    qv = emb.filter(F.col("vec_id").isin(HYBRID_QUERY_DOCS)).select(
        F.col("vec_id").alias("query_doc"),
        F.col("embedding").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    from ..operators.similarity import dot_expr

    cos = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("query_doc"))
        .select(
            "query_doc",
            F.col("vec_id").alias("doc_id"),
            F.floor(
                (dot_expr("qvec", "embedding") / (F.col("qn") * F.col("nrm")))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("cos_u6"),
        )
    )
    semr = _hybrid_two_phase_topk(cos, "cos_u6", "sem_rk")
    return _hybrid_fuse(lexr, semr)


def _cms_heavy_hitter_report(events: DataFrame, counters: DataFrame) -> DataFrame:
    """Shared report stage of the CMS queries: probe the grid with the
    stream's distinct keys, pair estimates with exact counts, rank
    top-{CMS_TOP} by estimate (TakeOrderedAndProject via top_k)."""
    from ..operators.reshape import top_k
    from ..operators.sketches import cms_estimate

    est = cms_estimate(events.distinct(), counters, "user_id")
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    r = est.join(exact, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count"))
        .cast("bigint")
        .alias("overcount"),
    )
    ranked = top_k(
        r, [], [F.col("est_count").desc(), F.col("user_id")], CMS_TOP, "rk"
    )
    return ranked.select(
        "user_id",
        "est_count",
        "exact_count",
        "overcount",
        F.col("rk").cast("bigint").alias("rk"),
    )


@query("cms_new_batch", _CMS_ORACLE)
def q_cms_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance: the corpus slice's counter grid
    (events with event_id hash bucket >= {NEW_BATCH_PCT}) is written as
    a parquet index, read back, and merged with the new batch's grid —
    union + one sum-groupBy over <= 2·depth·width rows, because counter
    grids are elementwise-ADDITIVE over disjoint slices (the HLL-index
    posture for frequencies: each ingest sketches only its batch). The
    heavy-hitter report then runs on the merged grid; output is
    identical to heavy_hitters_cms' full recompute BY CONSTRUCTION,
    and the oracle (the full-recompute SQL verbatim) says so
    cryptographically."""
    import os

    from ..operators.sampling import hash_bucket
    from ..operators.sketches import cms_counters
    from ..sources.sinks import write_parquet

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    is_new = hash_bucket("event_id") < NEW_BATCH_PCT
    corpus = events.filter(~is_new).select("user_id")
    batch = events.filter(is_new).select("user_id")

    idx_path = os.path.join(_run_scoped_index_dir("cms"), "cms_grid")
    write_parquet(cms_counters(corpus, "user_id"), idx_path)
    idx = spark.read.parquet(idx_path)

    merged = (
        idx.unionByName(cms_counters(batch, "user_id"))
        .groupBy("row_i", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return _cms_heavy_hitter_report(events.select("user_id"), merged)


# ---------------------------------------------------------------------------
# Exact phrase search — the third retrieval mode next to BM25 (bag of
# terms) and embedding cosine (semantic): find every positional
# occurrence of a literal token sequence. Rides the SAME positional
# gram stage the substring-dedup family shares
# (operators/textanalysis.py::_doc_grams — map-only explode, grams
# keyed by md5 like every exact-match key in the repo), so at 100 TB
# the (gh, doc, pos) table is the persisted positional inverted index
# and a phrase probe is one broadcast equi-join against it — the
# corpus is gram-hashed once per ingest, never per query.
# ---------------------------------------------------------------------------
PHRASE_LEN = 2  # tokens per phrase (gram width of the probe index)
PHRASE_SET = [("p0", "hash join"), ("p1", "table scan"), ("p2", "row batch")]
_PHRASE_VALUES = ", ".join(f"('{p}', '{t}')" for p, t in PHRASE_SET)


@query(
    "phrase_search",
    f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(toks[i : i + {PHRASE_LEN - 1}], ' ')) AS gh
          FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(toks) - {PHRASE_LEN - 2}, 1)))
                     AS i
          ) u),
    p AS (SELECT phrase_id, md5(lower(phrase)) AS gh
          FROM (VALUES {_PHRASE_VALUES}) v(phrase_id, phrase))
    SELECT p.phrase_id, g.doc_id,
           COUNT(*)::BIGINT AS n_hits,
           MIN(g.pos)::BIGINT AS first_pos
    FROM g JOIN p USING (gh)
    GROUP BY p.phrase_id, g.doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document containing each literal {PHRASE_LEN}-token
    phrase, with occurrence count and first position. The phrase
    table is a broadcast literal hashed with the same md5 the gram
    stage uses, so the probe is a broadcast hash equi-join on gh —
    no text comparison, no pairwise stage; the per-(phrase, doc)
    aggregate partial-combines map-side. Output is the full match
    list (compose with reshape.top_k for ranked retrieval); docs
    shorter than the phrase emit nothing on both engines."""
    from ..operators.textanalysis import _doc_grams

    docs = spread(load_table(spark, sf_dir, "documents"))
    grams = _doc_grams(docs, PHRASE_LEN)
    phrases = spark.createDataFrame(
        PHRASE_SET, "phrase_id string, phrase string"
    ).select("phrase_id", F.md5(F.lower("phrase")).alias("gh"))
    return (
        grams.join(F.broadcast(phrases), "gh")
        .groupBy("phrase_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .select("phrase_id", "doc_id", "n_hits", "first_pos")
    )


@query("bm25_new_batch", _BM25_ORACLE)
def q_bm25_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental term-index maintenance: the corpus slice's term
    stats (docs with doc_id hash bucket >= {NEW_BATCH_PCT}) are
    persisted as a parquet index, read back, and merged with the new
    batch's stats — every component is ADDITIVE over disjoint doc
    slices (tf and dl rows are per-doc: plain union; df and the
    (n_docs, n_toks) totals: union + sum), so the merged index equals
    corpus_term_stats over the full corpus exactly, ingest cost ∝
    batch. BM25 then runs on the merged index; the oracle (the
    from-scratch SQL verbatim) proves merge == recompute
    cryptographically — the vocab_new_batch posture extended to the
    whole search index."""
    import os

    from ..operators.concurrency import run_concurrent
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import bm25_scores, corpus_term_stats
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    def _raw_parts(slice_docs, materialize=False):
        tf, dl, dfreq, _stats = corpus_term_stats(
            spread(slice_docs), materialize=materialize
        )
        raw = slice_docs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ).crossJoin(
            F.broadcast(
                dl.agg(F.sum("dl_l").cast("bigint").alias("n_toks"))
            )
        )
        return tf, dl, dfreq, raw

    base = _run_scoped_index_dir("bm25")
    # The 4 index tables all derive from tf: materialize the corpus
    # pass once (dl/dfreq/raw re-derive from the checkpoint blocks
    # instead of re-exploding the corpus per write action — guide §5,
    # never execute a lineage twice) and overlap the now-cheap,
    # independent writes (guide §2.6).
    run_concurrent(
        *(
            lambda n=name, d=df: write_parquet(d, os.path.join(base, n))
            for name, df in zip(
                ["tf", "dl", "dfreq", "raw"],
                _raw_parts(corpus, materialize=True),
                strict=True,
            )
        )
    )
    idx = {
        name: spark.read.parquet(os.path.join(base, name))
        for name in ["tf", "dl", "dfreq", "raw"]
    }
    b_tf, b_dl, b_dfreq, b_raw = _raw_parts(batch)

    tf = idx["tf"].unionByName(b_tf)  # per-doc rows, slices disjoint
    dl = idx["dl"].unionByName(b_dl)
    dfreq = (
        idx["dfreq"]
        .unionByName(b_dfreq)
        .groupBy("token")
        .agg(F.sum("df_l").cast("bigint").alias("df_l"))
    )
    stats = (
        idx["raw"]
        .unionByName(b_raw)
        .agg(
            F.sum("n_docs").cast("double").alias("n_docs"),
            F.sum("n_toks").cast("double").alias("n_toks"),
        )
        .select("n_docs", (F.col("n_toks") / F.col("n_docs")).alias("avgdl"))
    )
    scores = bm25_scores(
        None, _bm25_qterms(spark), term_stats=(tf, dl, dfreq, stats)
    )
    return _bm25_ranked(scores)


CMS_GROUP_TOP = 5


@query(
    "heavy_hitters_by_type",
    f"""
    WITH d AS (SELECT unnest(range({CMS_DEPTH})) AS i),
    counters AS (SELECT event_type, i, {_CMS_BUCKET_OF_I} AS bucket,
                        COUNT(*)::BIGINT AS c
                 FROM events CROSS JOIN d GROUP BY event_type, i, bucket),
    keys AS (SELECT DISTINCT event_type, user_id FROM events),
    est AS (SELECT k.event_type, k.user_id, MIN(c.c)::BIGINT AS est_count
            FROM keys k CROSS JOIN d
            JOIN counters c ON c.event_type = k.event_type AND c.i = d.i
                           AND c.bucket = {_CMS_BUCKET_OF_KI}
            GROUP BY k.event_type, k.user_id),
    exact AS (SELECT event_type, user_id, COUNT(*)::BIGINT AS exact_count
              FROM events GROUP BY event_type, user_id),
    r AS (SELECT e.event_type, e.user_id, e.est_count, x.exact_count,
                 (e.est_count - x.exact_count)::BIGINT AS overcount,
                 ROW_NUMBER() OVER (PARTITION BY e.event_type
                                    ORDER BY e.est_count DESC, e.user_id)
                   AS rk
          FROM est e JOIN exact x USING (event_type, user_id))
    SELECT event_type, user_id, est_count, exact_count, overcount,
           rk::BIGINT AS rk
    FROM r WHERE rk <= {CMS_GROUP_TOP}
    """,
)
def q_heavy_hitters_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type top-{CMS_GROUP_TOP} heavy-hitter users from
    PER-GROUP count-min grids built in one pass (operators/sketches.py
    ::cms_counters_grouped — the multi-tenant sketch: one grid per
    type, shared row hashes, output ≤ |types|·depth·width counter rows
    so the whole grid table still broadcasts for the probe). Exact
    counts ride alongside and the one-sided overcount stays visible
    per group. The per-type ranking window partitions on the group
    key (bounded by that type's distinct users — the candidate list,
    not the stream). Same md5-reproducible construction as
    heavy_hitters_cms, so the grouped sketch is fully
    hash-oracle-checked."""
    from pyspark.sql import Window

    from ..operators.reshape import top_k
    from ..operators.sketches import cms_counters_grouped, cms_estimate_grouped

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    grid = cms_counters_grouped(ev, "user_id", ["event_type"])
    # broadcast=True: event_type is an enum-small code column, so the
    # grid is ≤ |types|·depth·width rows — assert that instead of
    # paying the auto-guard's probe (one extra grid evaluation)
    est = cms_estimate_grouped(
        ev.distinct(), grid, "user_id", ["event_type"], broadcast=True
    )
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    r = est.join(exact, ["event_type", "user_id"]).select(
        "event_type",
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count"))
        .cast("bigint")
        .alias("overcount"),
    )
    ranked = top_k(
        r,
        ["event_type"],
        [F.col("est_count").desc(), F.col("user_id")],
        CMS_GROUP_TOP,
        "rk",
    )
    return ranked.select(
        "event_type",
        "user_id",
        "est_count",
        "exact_count",
        "overcount",
        F.col("rk").cast("bigint").alias("rk"),
    )


