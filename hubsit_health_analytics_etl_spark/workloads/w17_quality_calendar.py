"""Markov index lifecycle, Zipf fit, reciprocal best match, chi-square, cohort LTV, trimmed mean, stream hygiene, ORC round-trip, pack utilization, tokenizer fertility, boilerplate, funnel latency, MAD outliers, interval coverage, assortativity, Lorenz, grouped OLS, bounce rate, DOW seasonality, SCD2 point-in-time, inter-arrival.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w02_dedup import NEW_BATCH_PCT, _run_scoped_index_dir, _sql_shingles  # noqa: E402
from .w06_joins_chunking import PACK_BUDGET, PACK_SHARDS  # noqa: E402
from .w09_curation_lifecycle import FORGET_PCT  # noqa: E402
from .w10_dataset_build import FUNNEL_WINDOW_MIN  # noqa: E402
from .w14_graph import TRI_MIN_SUPPORT, copurchase_pairs  # noqa: E402
from .w15_linkage_dsir import FUZZY_MAX_DIST  # noqa: E402
from .w16_behavioral_stats import _markov_oracle  # noqa: E402


# ---------------------------------------------------------------------------
# Markov index lifecycle — a DIFFERENT maintenance law than the
# additive families (CMS/BM25/moments just sum): transition counts
# depend on ADJACENCY, so an event inserted mid-stream rewires its
# neighbors' edges. The honest incremental contract is the
# affected-key rebuild (the span-scrub ownership-transfer precedent):
# subtract the AFFECTED USERS' old contribution, add their new one —
# cost ∝ the affected users' events (a pruned read under a
# user-partitioned layout), never the corpus. Insert and forget are
# the SAME law with different slices.
# ---------------------------------------------------------------------------


def _markov_counts(ev: DataFrame) -> DataFrame:
    """(from_type, to_type, n) transition counts of one event frame —
    the maintained index's row shape."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _markov_maintain(
    idx: DataFrame, old: DataFrame, new: DataFrame
) -> DataFrame:
    """index − old + new via one sum-groupBy; zero-count edges drop so
    the maintained table is row-identical to a rebuild."""
    merged = (
        idx.select("from_type", "to_type", "n")
        .unionByName(old.select("from_type", "to_type", (-F.col("n")).alias("n")))
        .unionByName(new.select("from_type", "to_type", "n"))
        .groupBy("from_type", "to_type")
        .agg(F.sum("n").cast("bigint").alias("n_trans"))
        .filter(F.col("n_trans") > 0)
    )
    return merged.select(
        "from_type", "to_type", "n_trans",
        F.expr(
            "cast(n_trans * 1000000 div "
            "sum(n_trans) over (partition by from_type) as bigint)"
        ).alias("p_u6"),
    )


@query("markov_new_batch", _markov_oracle())
def q_markov_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest maintenance for the transition index: the corpus slice's
    counts persist as parquet; the stable {NEW_BATCH_PCT}% batch —
    which interleaves IN TIME with history, the hard case — names its
    affected users, whose old-corpus contribution is subtracted and
    whose merged-stream contribution re-counted. Oracle recomputes
    the matrix over ALL events from scratch: the hash match proves
    affected-key maintenance == full recompute."""
    import os

    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    is_new = hash_bucket("event_id") < NEW_BATCH_PCT
    corpus, batch = events.filter(~is_new), events.filter(is_new)

    base = _run_scoped_index_dir("markov")
    idx_path = os.path.join(base, "markov_idx")
    write_parquet(_markov_counts(corpus), idx_path)
    idx = spark.read.parquet(idx_path)

    # batch rows all belong to affected users by definition, so the
    # merged affected stream is (affected users' history) ∪ batch —
    # materialize both once: the returned plan reads the index, the
    # batch and the affected slice, never the corpus again
    batch = materialize(batch)
    affected = batch.select("user_id").distinct()
    corpus_aff = corpus.join(affected, "user_id", "left_semi").transform(materialize)
    old = _markov_counts(corpus_aff)
    new = _markov_counts(corpus_aff.unionByName(batch))
    return _markov_maintain(idx, old, new)


@query(
    "markov_forget",
    _markov_oracle(
        f" WHERE {sql_hash_bucket('event_id', salt='forget')} >= {FORGET_PCT}"
    ),
)
def q_markov_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion for the transition index — the adjacency twist: a
    deleted mid-stream event doesn't just remove its own edges, it
    SPLICES its neighbors together, so per-edge subtraction would be
    wrong. Same affected-key law as ingest: subtract the deleted
    events' users' full old contribution, re-count them over the KEPT
    stream. Oracle recomputes from kept events from scratch — the
    hash match proves maintained == rebuilt, row-identically."""
    import os

    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    is_del = hash_bucket("event_id", salt="forget") < FORGET_PCT

    base = _run_scoped_index_dir("markov_forget")
    idx_path = os.path.join(base, "markov_idx")
    write_parquet(_markov_counts(events), idx_path)
    idx = spark.read.parquet(idx_path)

    # the affected slice (all of the affected users' events, deleted
    # rows included) materializes once; old counts read it whole, new
    # counts read its kept subset — the corpus is never re-scanned
    affected = events.filter(is_del).select("user_id").distinct()
    events_aff = events.join(affected, "user_id", "left_semi").transform(materialize)
    old = _markov_counts(events_aff)
    new = _markov_counts(events_aff.filter(~is_del))
    return _markov_maintain(idx, old, new)


# ---------------------------------------------------------------------------
# Zipf fit — the STATISTICAL-LAW member of the corpus-analysis family
# (corpus_vocabulary lists the head; this tests whether the head
# OBEYS the rank-frequency power law a natural corpus must — a wildly
# non-Zipfian slope flags synthetic/spammy text): OLS of
# ln(frequency) on ln(rank) over the top terms. Determinism: every
# ln is of ONE exact integer and quantizes to micro-units BEFORE any
# sum, so all regression sums are exact integers (order-free) in
# widened arithmetic — the regression is DEFINED on the quantized
# points.
# ---------------------------------------------------------------------------
ZIPF_TOP_R = 500

_ZIPF_ORACLE = f"""
    WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token
               FROM documents),
    c AS (SELECT token, COUNT(*)::BIGINT AS n_occ
          FROM t WHERE token <> '' GROUP BY token),
    r AS (SELECT n_occ,
                 ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS rank
          FROM c),
    q AS (SELECT CAST(FLOOR(1000000 * ln(rank)) AS HUGEINT) AS x,
                 CAST(FLOOR(1000000 * ln(n_occ)) AS HUGEINT) AS y,
                 n_occ
          FROM r WHERE rank <= {ZIPF_TOP_R}),
    a AS (SELECT COUNT(*)::HUGEINT AS n, MAX(n_occ)::BIGINT AS c_max,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM q)
    SELECT CAST(n AS BIGINT) AS n_terms, c_max,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_u6,
           CAST((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)
                // (n * (n * sxx - sx * sx)) AS BIGINT) AS intercept_u6
    FROM a
    """


@query("corpus_zipf_fit", _ZIPF_ORACLE)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the top-{ZIPF_TOP_R} vocabulary: x = ⌊10⁶·ln r⌋,
    y = ⌊10⁶·ln c⌋ per term (each ln takes one exact integer — the
    PMI/IV discipline — and floors before summing, so the OLS sums
    are order-free exact integers), slope and intercept as integral
    micro-unit divisions in decimal(38,0). A natural-language corpus
    lands near slope −10⁶ (the law); the intercept estimates
    ln(c_max). Top-K via TakeOrderedAndProject — the full vocabulary
    never funnels through one partition; everything after the token
    groupBy is {ZIPF_TOP_R} rows."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )
    topk = counts.orderBy(F.col("n_occ").desc(), F.col("token").asc()).limit(
        ZIPF_TOP_R
    )
    w = Window.orderBy(F.col("n_occ").desc(), F.col("token").asc())
    q = topk.select(
        "n_occ", F.row_number().over(w).cast("bigint").alias("rank")
    ).select(
        "n_occ",
        F.expr(
            "cast(floor(1000000 * ln(cast(rank as double))) as decimal(38,0))"
        ).alias("x"),
        F.expr(
            "cast(floor(1000000 * ln(cast(n_occ as double))) as decimal(38,0))"
        ).alias("y"),
    )
    a = q.agg(
        F.expr("cast(count(1) as decimal(38,0))").alias("n"),
        F.max("n_occ").cast("bigint").alias("c_max"),
        F.expr("sum(x)").alias("sx"),
        F.expr("sum(y)").alias("sy"),
        F.expr("sum(x * y)").alias("sxy"),
        F.expr("sum(x * x)").alias("sxx"),
    )
    return a.select(
        F.expr("cast(n as bigint)").alias("n_terms"),
        "c_max",
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
            "as bigint)"
        ).alias("slope_u6"),
        F.expr(
            "cast((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx) "
            "div (n * (n * sxx - sx * sx)) as bigint)"
        ).alias("intercept_u6"),
    )


# ---------------------------------------------------------------------------
# Reciprocal best match — the DECISION step of record linkage (the
# fuzzy join emits candidates; a merge decision needs pairs that pick
# EACH OTHER): a name's best match is its lowest-distance candidate
# (name tie-break), and a link is kept only when mutual — the
# bioinformatics "reciprocal best hit" rule, which kills the
# hub-name-absorbs-everything failure of one-sided best matching.
# ---------------------------------------------------------------------------

_RBM_ORACLE = f"""
    WITH d AS (SELECT p_name, COUNT(*)::BIGINT AS n_parts
               FROM part GROUP BY p_name),
    t AS (SELECT p_name AS n, unnest(string_split(p_name, ' ')) AS k FROM d),
    tt AS (SELECT n, k FROM t WHERE k <> ''),
    c AS (SELECT DISTINCT a.n AS name_a, b.n AS name_b
          FROM tt a JOIN tt b ON a.k = b.k AND a.n < b.n),
    v AS (SELECT name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
          FROM c WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}),
    s AS (SELECT name_a AS n, name_b AS m, dist FROM v
          UNION ALL SELECT name_b, name_a, dist FROM v),
    b AS (SELECT n, m, dist,
                 ROW_NUMBER() OVER (PARTITION BY n ORDER BY dist, m) AS rk
          FROM s),
    best AS (SELECT n, m, dist FROM b WHERE rk = 1)
    SELECT x.n AS name_a, x.m AS name_b, x.dist,
           da.n_parts AS n_parts_a, db.n_parts AS n_parts_b
    FROM best x JOIN best y ON y.n = x.m AND y.m = x.n
    JOIN d da ON da.p_name = x.n JOIN d db ON db.p_name = x.m
    WHERE x.n < x.m
    """


@query("part_name_reciprocal_best", _RBM_ORACLE)
def q_part_name_reciprocal_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-best fuzzy links over the blocked candidate set: the
    symmetrized candidate table ranks per name by (dist, name), rank-1
    rows self-join on the reversed pair, canonical a<b survives. All
    work downstream of the |distinct names| fuzzy phase — the linkage
    decision costs one window + one equi-self-join over best rows."""
    from pyspark.sql import Window

    from ..operators.joins import blocked_fuzzy_self_join

    part = load_table(spark, sf_dir, "part")
    d = part.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    v = blocked_fuzzy_self_join(d, "p_name", FUZZY_MAX_DIST)
    s = v.select(
        F.col("name_a").alias("n"), F.col("name_b").alias("m"), "dist"
    ).unionByName(
        v.select(
            F.col("name_b").alias("n"), F.col("name_a").alias("m"), "dist"
        )
    )
    best = (
        s.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n").orderBy("dist", "m")
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
        .transform(materialize)
    )
    y = best.select(
        F.col("n").alias("yn"), F.col("m").alias("ym")
    )
    mutual = best.join(
        y, (F.col("yn") == F.col("m")) & (F.col("ym") == F.col("n")), "left_semi"
    ).filter(F.col("n") < F.col("m"))
    da = d.select(F.col("p_name").alias("n"), F.col("n_parts").alias("n_parts_a"))
    db = d.select(F.col("p_name").alias("m"), F.col("n_parts").alias("n_parts_b"))
    return (
        mutual.join(F.broadcast(da), "n")
        .join(F.broadcast(db), "m")
        .select(
            F.col("n").alias("name_a"), F.col("m").alias("name_b"), "dist",
            "n_parts_a", "n_parts_b",
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence — the CATEGORICAL member of the statistical-
# test family (KS/PSI compare numeric distributions, the z-test scores
# points; this asks whether two categorical columns are associated at
# all): segment × order-priority contingency table, χ² and Cramér's V.
# Every cell's term is (oN − rc)²·10⁶ div (N·r·c) — one integral
# division of exact widened integers, quantized per cell BEFORE the
# order-free integer sum (the Zipf discipline).
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
    WITH j AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    o AS (SELECT seg, pri, COUNT(*)::BIGINT AS obs FROM j GROUP BY 1, 2),
    r AS (SELECT seg, SUM(obs)::BIGINT AS r_tot FROM o GROUP BY seg),
    c AS (SELECT pri, SUM(obs)::BIGINT AS c_tot FROM o GROUP BY pri),
    n AS (SELECT SUM(obs)::BIGINT AS n_tot,
                 COUNT(DISTINCT seg)::BIGINT AS n_seg,
                 COUNT(DISTINCT pri)::BIGINT AS n_pri
          FROM o),
    t AS (SELECT (CAST(o.obs AS HUGEINT) * n.n_tot
                  - CAST(r.r_tot AS HUGEINT) * c.c_tot) AS d,
                 CAST(n.n_tot AS HUGEINT) * r.r_tot * c.c_tot AS e
          FROM o JOIN r USING (seg) JOIN c USING (pri) CROSS JOIN n),
    q AS (SELECT SUM(CAST(d * d * 1000000 // e AS BIGINT))::BIGINT
                   AS chi2_u6
          FROM t)
    SELECT n.n_tot AS n_rows,
           ((n.n_seg - 1) * (n.n_pri - 1))::BIGINT AS dof,
           q.chi2_u6,
           CAST(q.chi2_u6 // (n.n_tot * LEAST(n.n_seg - 1, n.n_pri - 1))
                AS BIGINT) AS cramers_v2_u6
    FROM n CROSS JOIN q
    """


@query("segment_priority_chi2", _CHI2_ORACLE)
def q_segment_priority_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence of market segment vs order priority: one
    broadcast-dim join to the contingency cells, marginals from the
    cell table (never a second raw pass), per-cell quantized terms
    summed as exact integers, Cramér's V² in micro-units on top.
    Everything downstream of the cell groupBy is |segments×priorities|
    rows."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
        .transform(materialize)
    )
    r = o.groupBy("seg").agg(F.sum("obs").cast("bigint").alias("r_tot"))
    c = o.groupBy("pri").agg(F.sum("obs").cast("bigint").alias("c_tot"))
    n = o.agg(
        F.sum("obs").cast("bigint").alias("n_tot"),
        F.countDistinct("seg").cast("bigint").alias("n_seg"),
        F.countDistinct("pri").cast("bigint").alias("n_pri"),
    )
    t = (
        o.join(F.broadcast(r), "seg")
        .join(F.broadcast(c), "pri")
        .crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "cast(obs as decimal(38,0)) * n_tot "
                "- cast(r_tot as decimal(38,0)) * c_tot"
            ).alias("d"),
            F.expr("cast(n_tot as decimal(38,0)) * r_tot * c_tot").alias("e"),
        )
    )
    q = t.agg(
        F.expr("cast(sum(cast(d * d * 1000000 div e as bigint)) as bigint)")
        .alias("chi2_u6")
    )
    return (
        n.crossJoin(F.broadcast(q))
        .select(
            F.col("n_tot").alias("n_rows"),
            F.expr("cast((n_seg - 1) * (n_pri - 1) as bigint)").alias("dof"),
            "chi2_u6",
            F.expr(
                "cast(chi2_u6 div (n_tot * least(n_seg - 1, n_pri - 1)) "
                "as bigint)"
            ).alias("cramers_v2_u6"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve — the MONEY member of the cohort family
# (weekly_cohort_retention counts who comes BACK; this accumulates
# what they're WORTH): customers grouped by first-order month, revenue
# accumulated by months-since-cohort. The curve a growth team reads
# payback periods off. Exact integers: cents, month ages via
# calendar arithmetic, cumulative sums over an age-ordered window
# PARTITIONED by cohort.
# ---------------------------------------------------------------------------

_LTV_ORACLE = """
    WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                      CAST(floor(o_totalprice * 100) AS BIGINT) AS rev_c
               FROM orders),
    c AS (SELECT o_custkey, MIN(date_trunc('month', d)) AS cm FROM o
          GROUP BY 1),
    sz AS (SELECT cm, COUNT(*)::BIGINT AS cohort_n FROM c GROUP BY cm),
    a AS (SELECT c.cm, ((EXTRACT(YEAR FROM o.d) - EXTRACT(YEAR FROM c.cm)) * 12
                        + (EXTRACT(MONTH FROM o.d) - EXTRACT(MONTH FROM c.cm)))
                         ::BIGINT AS age_m,
                 o.rev_c
          FROM o JOIN c USING (o_custkey)),
    g AS (SELECT cm, age_m, SUM(rev_c)::BIGINT AS rev_c FROM a GROUP BY 1, 2),
    w AS (SELECT cm, age_m, rev_c,
                 SUM(rev_c) OVER (PARTITION BY cm ORDER BY age_m
                                  ROWS UNBOUNDED PRECEDING)::BIGINT
                   AS cum_rev_c
          FROM g)
    SELECT strftime(w.cm, '%Y-%m') AS cohort_month, w.age_m, sz.cohort_n,
           w.rev_c, w.cum_rev_c,
           (w.cum_rev_c // sz.cohort_n)::BIGINT AS cum_ltv_c
    FROM w JOIN sz USING (cm)
    """


@query("cohort_ltv_curve", _LTV_ORACLE)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value per (first-order-month cohort, months
    since cohort): cohort assignment is one customer-level aggregate
    joined back (the raw pass), month ages are exact calendar
    arithmetic, and the running sum partitions BY COHORT so cohorts
    accumulate in parallel. cum_ltv_c = cumulative cents per cohort
    member (integral division). At 100 TB the join back is the only
    fact-sized work; the curve table is |cohorts × ages|."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("rev_c"),
    )
    c = o.groupBy("o_custkey").agg(
        F.min(F.trunc("d", "month")).alias("cm")
    ).transform(materialize)
    sz = c.groupBy("cm").agg(F.count(F.lit(1)).cast("bigint").alias("cohort_n"))
    a = o.join(c, "o_custkey").select(
        "cm",
        F.expr(
            "cast((year(d) - year(cm)) * 12 + (month(d) - month(cm)) "
            "as bigint)"
        ).alias("age_m"),
        "rev_c",
    )
    g = a.groupBy("cm", "age_m").agg(F.sum("rev_c").cast("bigint").alias("rev_c"))
    w = g.select(
        "cm", "age_m", "rev_c",
        F.sum("rev_c")
        .over(
            Window.partitionBy("cm")
            .orderBy("age_m")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cum_rev_c"),
    )
    return w.join(sz, "cm").select(
        F.date_format("cm", "yyyy-MM").alias("cohort_month"),
        "age_m", "cohort_n", "rev_c", "cum_rev_c",
        F.expr("cast(cum_rev_c div cohort_n as bigint)").alias("cum_ltv_c"),
    )


# ---------------------------------------------------------------------------
# Trimmed mean — the ROBUST-LOCATION member of the statistical family
# (winsorized_prices CLIPS tails to the fence; this DROPS them):
# per-nation mean lineitem price after discarding the lowest and
# highest 10% by rank. Rank-based, so the whole statistic is exact
# integer arithmetic — no percentile interpolation anywhere — and the
# (price, orderkey, linenumber) tie-break makes the drop set
# engine-identical.
# ---------------------------------------------------------------------------
TRIM_PCT = 10


_TRIMMED_ORACLE = f"""
    WITH l AS (SELECT n.n_name AS nation,
                      CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS p_c,
                      l.l_orderkey, l.l_linenumber
               FROM lineitem l
               JOIN orders o ON o.o_orderkey = l.l_orderkey
               JOIN customer c ON c.c_custkey = o.o_custkey
               JOIN nation n ON n.n_nationkey = c.c_nationkey),
    r AS (SELECT nation, p_c,
                 ROW_NUMBER() OVER (PARTITION BY nation
                                    ORDER BY p_c, l_orderkey, l_linenumber)
                   AS rk,
                 COUNT(*) OVER (PARTITION BY nation) AS n_w
          FROM l),
    k AS (SELECT nation, p_c, n_w, (n_w * {TRIM_PCT}) // 100 AS cut
          FROM r WHERE rk > (n_w * {TRIM_PCT}) // 100
                   AND rk <= n_w - (n_w * {TRIM_PCT}) // 100)
    SELECT nation, MAX(n_w)::BIGINT AS n_items,
           COUNT(*)::BIGINT AS n_kept,
           (SUM(p_c) // COUNT(*))::BIGINT AS trimmed_mean_c,
           MIN(p_c) AS kept_min_c, MAX(p_c) AS kept_max_c
    FROM k GROUP BY nation
    """


@query("nation_trimmed_mean_price", _TRIMMED_ORACLE)
def q_nation_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation {TRIM_PCT}%-trimmed mean of lineitem prices: rank
    within nation with a total tie-break, drop ⌊n·{TRIM_PCT}/100⌋ from
    each end, integer mean of the keeps. The rank window partitions by
    nation (parallel); broadcast dims route lineitem to its nation in
    one fact pass. Rank-based trimming needs no percentile
    interpolation — every output cell is exact."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("p_c"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    l = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select(F.col("n_name").alias("nation"), "p_c", "l_orderkey", "l_linenumber")
    )
    wn = Window.partitionBy("nation")
    r = l.select(
        "nation", "p_c",
        F.row_number()
        .over(wn.orderBy("p_c", "l_orderkey", "l_linenumber"))
        .alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n_w"),
    )
    k = r.filter(
        (F.col("rk") > F.expr(f"(n_w * {TRIM_PCT}) div 100"))
        & (F.col("rk") <= F.expr(f"n_w - (n_w * {TRIM_PCT}) div 100"))
    )
    return k.groupBy("nation").agg(
        F.max("n_w").cast("bigint").alias("n_items"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.expr("cast(sum(p_c) div count(1) as bigint)").alias("trimmed_mean_c"),
        F.min("p_c").alias("kept_min_c"),
        F.max("p_c").alias("kept_max_c"),
    )


# ---------------------------------------------------------------------------
# Event-stream hygiene — the INGEST-GATE member of the data-quality
# family for the events table (referential_integrity_audit checks
# keys, quality_profile checks columns; this checks STREAM
# plausibility): arrival-order inversions, duplicate event ids,
# missing types, negative values — the four checks a streaming ingest
# promotes or quarantines a batch on.
# ---------------------------------------------------------------------------

_HYGIENE_ORACLE = """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_id,
                      event_type, value
               FROM events),
    n AS (SELECT COUNT(*)::BIGINT AS n_total FROM e),
    ooo AS (SELECT COUNT(*)::BIGINT AS bad FROM (
              SELECT CASE WHEN ts < LAG(ts) OVER (PARTITION BY user_id
                                                  ORDER BY event_id)
                          THEN 1 ELSE 0 END AS inv
              FROM e) WHERE inv = 1),
    dup AS (SELECT COALESCE(SUM(c - 1), 0)::BIGINT AS bad FROM (
              SELECT COUNT(*)::BIGINT AS c FROM e GROUP BY event_id)
            WHERE c > 1),
    mt AS (SELECT COUNT(*)::BIGINT AS bad FROM e
           WHERE event_type IS NULL OR event_type = ''),
    neg AS (SELECT COUNT(*)::BIGINT AS bad FROM e
            WHERE value IS NULL OR value < 0),
    u AS (SELECT 'arrival_order_inversions' AS check_name, bad FROM ooo
          UNION ALL SELECT 'duplicate_event_ids', bad FROM dup
          UNION ALL SELECT 'null_or_empty_type', bad FROM mt
          UNION ALL SELECT 'null_or_negative_value', bad FROM neg)
    SELECT u.check_name, u.bad AS n_bad, n.n_total,
           CAST(u.bad * 1000000 // n.n_total AS BIGINT) AS bad_pct_u6
    FROM u CROSS JOIN n
    """


@query("event_stream_hygiene", _HYGIENE_ORACLE)
def q_event_stream_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four stream-plausibility counters in a handful of aggregates:
    event-time inversions against ARRIVAL order (lag over event_id per
    user — the check that catches a producer whose clock jumped),
    duplicate event ids (excess occurrences), missing types, negative
    or null values. One row per check with the rate in micro-units.
    Each check is one key shuffle at most; the union is 4 rows."""
    from ..operators.profile import event_stream_hygiene_audit

    return event_stream_hygiene_audit(
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type", "value"
        )
    )


# ---------------------------------------------------------------------------
# ORC round-trip — the third columnar format edge next to the parquet
# sink (S7) and the PBI CSV dialect (S5): some downstreams (Hive
# ecosystems) mandate ORC, and Spark writes/reads it natively. The
# timed body is the honest write+read+aggregate round-trip; the
# oracle aggregates the source directly, so the hash match proves the
# format preserved every value bit-for-bit.
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
    SELECT o_orderstatus,
           COUNT(*)::BIGINT AS n_orders,
           SUM(CAST(floor(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_c,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
    FROM orders GROUP BY o_orderstatus
    """


@query("export_orc_roundtrip", _ORC_ORACLE)
def q_export_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders to ORC (zlib, the Hive default), read it back and
    aggregate per status — counts, integer cents, date range. A value
    the format mangled (timestamp precision, decimal rounding) would
    break the hash. Scale posture: format edges are map-only; the
    aggregate is the usual one-shuffle."""
    import os

    orc_dir = os.path.join(_run_scoped_index_dir("orc"), "orders_orc")
    load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_totalprice", "o_orderdate"
    ).write.mode("overwrite").format("orc").save(orc_dir)
    back = spark.read.format("orc").load(orc_dir)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "cast(sum(cast(floor(o_totalprice * 100) as bigint)) as bigint)"
        ).alias("rev_c"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# Pack utilization — the QA report over token_pack_bins' plan (the
# packing step says where docs go; this says how well the bins fill —
# the number a training-throughput owner watches): per shard, bin
# count, token totals and fill rate vs budget, plus the tail (max
# overshoot: a doc can straddle its bin boundary by design, since
# bins quantize START offsets).
# ---------------------------------------------------------------------------

_PACK_UTIL_ORACLE = f"""
    WITH t AS (SELECT doc_id,
                      (doc_id % {PACK_SHARDS}) AS shard,
                      len(regexp_extract_all(lower(text),
                                             '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT
                        AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, shard, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t),
    b AS (SELECT shard, ((cum - n_tokens) // {PACK_BUDGET}) AS bin,
                 COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS toks
          FROM c GROUP BY 1, 2)
    SELECT shard::BIGINT AS shard,
           COUNT(*)::BIGINT AS n_bins,
           SUM(n_docs)::BIGINT AS n_docs,
           SUM(toks)::BIGINT AS n_tokens,
           CAST(SUM(toks) * 1000000 // (COUNT(*) * {PACK_BUDGET}) AS BIGINT)
             AS fill_pct_u6,
           MAX(toks)::BIGINT AS max_bin_tokens,
           MIN(toks)::BIGINT AS min_bin_tokens
    FROM b GROUP BY shard
    """


@query("pack_utilization_report", _PACK_UTIL_ORACLE)
def q_pack_utilization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing QA: bins, docs, tokens, fill rate vs the
    {PACK_BUDGET}-token budget (integral micro-units) and the
    min/max bin loads. Same shard-partitioned cumsum as
    token_pack_bins (no global sort), one extra |bins|-sized
    aggregate on top."""
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
    b = (
        t.select(
            "shard",
            "n_tokens",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET
            ).alias("bin"),
        )
        .groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("toks"),
        )
    )
    return b.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.expr(
            f"cast(sum(toks) * 1000000 div (count(1) * {PACK_BUDGET}) as bigint)"
        ).alias("fill_pct_u6"),
        F.max("toks").cast("bigint").alias("max_bin_tokens"),
        F.min("toks").cast("bigint").alias("min_bin_tokens"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility — the TOKENIZER-QA member of the text family
# (bpe_doc_token_counts counts one doc at a time; this reports the
# per-language ratios a tokenizer is judged on): subword tokens per
# whitespace word (fertility — high values mean the tokenizer
# fragments that language) and characters per subword token.
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = """
    WITH d AS (SELECT lang,
                      len(regexp_extract_all(lower(text),
                                             '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT
                        AS n_sub,
                      len(list_filter(string_split(lower(text), ' '),
                                      x -> x <> ''))::BIGINT AS n_words,
                      length(text)::BIGINT AS n_chars
               FROM documents)
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_sub)::BIGINT AS n_subwords,
           SUM(n_words)::BIGINT AS n_words,
           CAST(SUM(n_sub) * 1000000 // SUM(n_words) AS BIGINT)
             AS fertility_u6,
           CAST(SUM(n_chars) * 1000000 // SUM(n_sub) AS BIGINT)
             AS chars_per_token_u6
    FROM d GROUP BY lang
    """


@query("tokenizer_fertility", _FERTILITY_ORACLE)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility of the BPE-ish tokenizer: subword count
    (the token_count_bpe_ish regex), whitespace word count and char
    count fold map-side into per-language sums; both ratios are
    integral micro-unit divisions. One scan, |langs| output rows."""
    from ..operators.textanalysis import token_count_bpe_ish

    docs = spread(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "lang",
        token_count_bpe_ish("text").cast("bigint").alias("n_sub"),
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).cast("bigint").alias("n_words"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sub").cast("bigint").alias("n_subwords"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.expr("cast(sum(n_sub) * 1000000 div sum(n_words) as bigint)").alias(
            "fertility_u6"
        ),
        F.expr("cast(sum(n_chars) * 1000000 div sum(n_sub) as bigint)").alias(
            "chars_per_token_u6"
        ),
    )


# ---------------------------------------------------------------------------
# Boilerplate fraction — the INTER-document repetition member of the
# dedup family (doc_repetition measures repetition INSIDE a doc;
# duplicate_text_spans finds exact shared substrings; this scores how
# much of a doc is made of corpus-COMMON shingles — navigation chrome,
# license headers, templates — the CCNet/RefinedWeb boilerplate
# signal): a shingle is boilerplate when its document frequency
# reaches BP_MIN_DF documents — the absolute-count convention of the
# line-dedup/CCNet family (a template shared by 5 documents is
# boilerplate whether the corpus holds 10³ or 10⁹ docs; a RELATIVE
# threshold goes silent as the corpus grows) — and a doc's score is
# the fraction of its distinct shingles that are boilerplate.
# ---------------------------------------------------------------------------
BP_MIN_DF = 5


_BOILERPLATE_ORACLE = f"""
    WITH g AS (SELECT doc_id, unnest({_sql_shingles('text', 3)}) AS gram
               FROM documents),
    df AS (SELECT gram, COUNT(*)::BIGINT AS df FROM g GROUP BY gram),
    j AS (SELECT g.doc_id,
                 CASE WHEN df.df >= {BP_MIN_DF} THEN 1 ELSE 0 END AS is_bp
          FROM g JOIN df USING (gram))
    SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
           CAST(SUM(is_bp) AS BIGINT) AS n_boilerplate,
           CAST(SUM(is_bp) * 1000000 // COUNT(*) AS BIGINT)
             AS boilerplate_u6
    FROM j GROUP BY doc_id
    """


@query("doc_boilerplate_fraction", _BOILERPLATE_ORACLE)
def q_doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate score: distinct 3-word shingles explode
    once, the shingle→document-frequency table aggregates them once,
    and the equi-join back tags each doc shingle as boilerplate when
    df ≥ {BP_MIN_DF} (the absolute-count convention — a shared
    template is boilerplate at any corpus size). The df table is the postings-table shuffle shape every
    dedup sibling uses; nothing is quadratic. At 100 TB the df table
    is a standing index maintained additively like BM25 terms."""
    from ..operators.dedup import shingles_from_text

    docs = spread(load_table(spark, sf_dir, "documents"))
    g = docs.select(
        "doc_id", F.explode(shingles_from_text("text", 3)).alias("gram")
    ).transform(materialize)
    df = g.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    j = g.join(df, "gram").select(
        "doc_id",
        F.when(F.col("df") >= BP_MIN_DF, 1).otherwise(0).alias("is_bp"),
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum("is_bp").cast("bigint").alias("n_boilerplate"),
        F.expr("cast(sum(is_bp) * 1000000 div count(1) as bigint)").alias(
            "boilerplate_u6"
        ),
    )


# ---------------------------------------------------------------------------
# Funnel latency — the HOW-FAST companion to event_funnel's how-many:
# per converting user, the time from the most recent qualifying view
# to their FIRST qualified click, summarized as exact rank-based
# percentiles (percentile_disc convention: the value at rank
# ⌈p·n⌉ — a real element, no interpolation, hence exact integers).
# ---------------------------------------------------------------------------

_FUNNEL_LAT_ORACLE = f"""
    WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) ts
               FROM events),
    q AS (SELECT *, MAX(CASE WHEN event_type = 'view' THEN ts END) OVER w
                      AS prior_view
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    c AS (SELECT user_id, ts, event_id,
                 epoch_us(ts) - epoch_us(prior_view) AS lat_us
          FROM q
          WHERE event_type = 'click' AND prior_view IS NOT NULL
            AND prior_view >= ts - INTERVAL {{win}} MINUTES),
    f AS (SELECT user_id, lat_us,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM c),
    l AS (SELECT user_id, lat_us::BIGINT AS lat_us FROM f WHERE rn = 1),
    r AS (SELECT lat_us,
                 ROW_NUMBER() OVER (ORDER BY lat_us, user_id) AS rk,
                 COUNT(*) OVER () AS n
          FROM l)
    SELECT MAX(n)::BIGINT AS n_converters,
           MIN(lat_us)::BIGINT AS min_lat_us,
           MAX(CASE WHEN rk = (n * 50 + 99) // 100 THEN lat_us END)::BIGINT
             AS p50_lat_us,
           MAX(CASE WHEN rk = (n * 90 + 99) // 100 THEN lat_us END)::BIGINT
             AS p90_lat_us,
           MAX(lat_us)::BIGINT AS max_lat_us,
           (SUM(lat_us) // MAX(n))::BIGINT AS mean_lat_us
    FROM r
    """.replace("{win}", str(FUNNEL_WINDOW_MIN))


@query("funnel_conversion_latency", _FUNNEL_LAT_ORACLE)
def q_funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→click conversion latency: the event_funnel qualifying rule
    verbatim (strictly-prior frame, deadline test), first qualified
    click per user, then exact discrete percentiles by rank over the
    |converters|-row latency table. Micros end to end — no division
    until the final integral mean."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    q = ev.select(
        "*",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w1)
        .alias("prior_view"),
    )
    c = q.filter(
        (F.col("event_type") == "click")
        & F.col("prior_view").isNotNull()
        & (
            F.col("prior_view")
            >= F.col("ts") - F.expr(f"interval {FUNNEL_WINDOW_MIN} minutes")
        )
    ).select(
        "user_id", "ts", "event_id",
        F.expr(
            "unix_micros(cast(ts as timestamp)) "
            "- unix_micros(cast(prior_view as timestamp))"
        ).alias("lat_us"),
    )
    f = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    l = f.filter(F.col("rn") == 1).select(
        "user_id", F.col("lat_us").cast("bigint").alias("lat_us")
    )
    r = l.select(
        "lat_us",
        F.row_number().over(Window.orderBy("lat_us", "user_id")).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    return r.agg(
        F.max("n").cast("bigint").alias("n_converters"),
        F.min("lat_us").cast("bigint").alias("min_lat_us"),
        F.expr(
            "cast(max(case when rk = (n * 50 + 99) div 100 then lat_us end) "
            "as bigint)"
        ).alias("p50_lat_us"),
        F.expr(
            "cast(max(case when rk = (n * 90 + 99) div 100 then lat_us end) "
            "as bigint)"
        ).alias("p90_lat_us"),
        F.max("lat_us").cast("bigint").alias("max_lat_us"),
        F.expr("cast(sum(lat_us) div max(n) as bigint)").alias("mean_lat_us"),
    )


# ---------------------------------------------------------------------------
# Median/MAD outliers — the ROBUST twin of user_value_outliers' mean
# z-test (one 10000× fat-finger event drags a user's mean AND sigma,
# masking itself; the median and the median-absolute-deviation don't
# move): per user, median event value, MAD, and the count of events
# beyond 3·MAD. Rank-based lower medians (the value at rank
# ⌈n/2⌉) keep every number an exact integer — two ranked passes, no
# interpolation — and the flag comparison is pure integer arithmetic.
# ---------------------------------------------------------------------------
MAD_K = 3


_MAD_ORACLE = f"""
    WITH e AS (SELECT user_id, event_id,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY v, event_id) AS rk,
                     COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM e),
    med AS (SELECT user_id, MAX(CASE WHEN rk = (n + 1) // 2 THEN v END)
                              ::BIGINT AS med_c
            FROM r1 GROUP BY user_id),
    d AS (SELECT e.user_id, e.event_id, e.v, med.med_c,
                 abs(e.v - med.med_c) AS ad
          FROM e JOIN med USING (user_id)),
    r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ad, event_id) AS rk,
                     COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM d),
    mad AS (SELECT user_id, MAX(CASE WHEN rk = (n + 1) // 2 THEN ad END)
                              ::BIGINT AS mad_c
            FROM r2 GROUP BY user_id)
    SELECT d.user_id, MAX(r2.n)::BIGINT AS n_events,
           MAX(d.med_c)::BIGINT AS median_c, MAX(mad.mad_c)::BIGINT AS mad_c,
           CAST(SUM(CASE WHEN d.ad > {MAD_K} * mad.mad_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (user_id)
           JOIN r2 ON r2.user_id = d.user_id AND r2.event_id = d.event_id
    GROUP BY d.user_id
    """


@query("user_value_mad_outliers", _MAD_ORACLE)
def q_user_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier counts: lower median of integer cents
    (rank ⌈n/2⌉ with event_id tie-break), MAD as the lower median of
    absolute deviations, flag |x − med| > {MAD_K}·MAD. Two
    user-partitioned rank windows on the SAME key partitioning (one
    shuffle reused), everything exact integers. The robust sibling of
    user_value_outliers — certified against the same events."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("v"),
    )
    wu = Window.partitionBy("user_id")
    r1 = e.select(
        "*",
        F.row_number().over(wu.orderBy("v", "event_id")).alias("rk"),
        F.count(F.lit(1)).over(wu).alias("n"),
    )
    med = r1.groupBy("user_id").agg(
        F.expr("cast(max(case when rk = (n + 1) div 2 then v end) as bigint)")
        .alias("med_c")
    )
    d = e.join(med, "user_id").select(
        "user_id", "event_id", "v", "med_c",
        F.abs(F.col("v") - F.col("med_c")).alias("ad"),
    )
    # r2 feeds both the MAD aggregate and the final flag join —
    # materialize the windowed frame once instead of re-running the
    # rank window (and the events scan under it) per consumer
    r2 = d.select(
        "*",
        F.row_number().over(wu.orderBy("ad", "event_id")).alias("rk"),
        F.count(F.lit(1)).over(wu).alias("n"),
    ).transform(materialize)
    mad = r2.groupBy("user_id").agg(
        F.expr("cast(max(case when rk = (n + 1) div 2 then ad end) as bigint)")
        .alias("mad_c")
    )
    return (
        r2.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("med_c").cast("bigint").alias("median_c"),
            F.max("mad_c").cast("bigint").alias("mad_c"),
            F.expr(
                f"cast(sum(case when ad > {MAD_K} * mad_c then 1 else 0 end) "
                "as bigint)"
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Forecast interval coverage — the UNCERTAINTY member of the
# forecasting family (monthly_forecast_backtest scores point error;
# this asks whether a split-conformal interval actually covers):
# calibration months (first ⌈2n/3⌉ of the month spine) supply the
# naive/seasonal forecast residuals, whose discrete rank-⌈p·n⌉
# quantiles become the [lo, hi] interval offsets; the held-out
# months report empirical coverage. Everything rank-based and
# integer — the conformal guarantee (coverage ≥ nominal up to
# discreteness) is testable arithmetic, not a float approximation.
# ---------------------------------------------------------------------------

_FC_INTERVAL_ORACLE = """
    WITH rev AS (
      SELECT n.n_name AS nation, strftime(o.o_orderdate, '%Y-%m') AS m,
             SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))::BIGINT AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    months AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m FROM orders),
    mr AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rk,
                  COUNT(*) OVER () AS n
           FROM months),
    cut AS (SELECT MAX(CASE WHEN rk = (2 * n + 2) // 3 THEN m END) AS cutoff
            FROM mr),
    spine AS (SELECT n.n_name AS nation, months.m
              FROM nation n CROSS JOIN months),
    s AS (SELECT spine.nation, spine.m, rev.rev_c,
                 LAG(rev.rev_c, 1) OVER w AS f1,
                 LAG(rev.rev_c, 12) OVER w AS f12
          FROM spine LEFT JOIN rev USING (nation, m)
          WINDOW w AS (PARTITION BY spine.nation ORDER BY spine.m)),
    u AS (SELECT nation, m, rev_c, 'naive1' AS model, f1 AS fc FROM s
          UNION ALL
          SELECT nation, m, rev_c, 'snaive12', f12 FROM s),
    v AS (SELECT u.*, cut.cutoff FROM u CROSS JOIN cut
          WHERE u.rev_c IS NOT NULL AND u.fc IS NOT NULL),
    calq AS (SELECT model, r AS res,
                    ROW_NUMBER() OVER (PARTITION BY model ORDER BY r) AS rk,
                    COUNT(*) OVER (PARTITION BY model) AS n
             FROM (SELECT model, rev_c - fc AS r FROM v WHERE m <= cutoff)),
    q AS (SELECT model, MAX(n)::BIGINT AS n_cal,
                 MAX(CASE WHEN rk = (n * 10 + 99) // 100 THEN res END)
                   ::BIGINT AS lo_c,
                 MAX(CASE WHEN rk = (n * 90 + 99) // 100 THEN res END)
                   ::BIGINT AS hi_c
          FROM calq GROUP BY model),
    ev AS (SELECT v.model, v.rev_c - v.fc AS r FROM v WHERE v.m > v.cutoff)
    SELECT q.model, q.n_cal, COUNT(*)::BIGINT AS n_eval, q.lo_c, q.hi_c,
           CAST(SUM(CASE WHEN ev.r BETWEEN q.lo_c AND q.hi_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN ev.r BETWEEN q.lo_c AND q.hi_c
                         THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS coverage_u6
    FROM ev JOIN q USING (model)
    GROUP BY q.model, q.n_cal, q.lo_c, q.hi_c
    """


@query("forecast_interval_coverage", _FC_INTERVAL_ORACLE)
def q_forecast_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal check of the backtest's two baselines: pooled
    calibration residuals (months up to the ⌈2n/3⌉ cutoff) give
    discrete p10/p90 offsets; held-out months report how often the
    actual lands inside. Same spine/lag discipline as the backtest;
    the quantile table is 2 rows and broadcasts onto the eval slice."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
            F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("p_c"),
        )
        .groupBy("nation", "m")
        .agg(F.sum("p_c").cast("bigint").alias("rev_c"))
    )
    months = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).distinct().transform(materialize)
    mr = months.select(
        "m",
        F.row_number().over(Window.orderBy("m")).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    cut = mr.agg(
        F.expr("max(case when rk = (2 * n + 2) div 3 then m end)").alias("cutoff")
    )
    spine = nat.select(F.col("n_name").alias("nation")).crossJoin(
        F.broadcast(months)
    )
    w = Window.partitionBy("nation").orderBy("m")
    s = spine.join(rev, ["nation", "m"], "left").select(
        "nation", "m", "rev_c",
        F.lag("rev_c", 1).over(w).alias("f1"),
        F.lag("rev_c", 12).over(w).alias("f12"),
    )
    u = s.select(
        "nation", "m", "rev_c", F.lit("naive1").alias("model"),
        F.col("f1").alias("fc"),
    ).unionByName(
        s.select(
            "nation", "m", "rev_c", F.lit("snaive12").alias("model"),
            F.col("f12").alias("fc"),
        )
    )
    v = (
        u.filter(F.col("rev_c").isNotNull() & F.col("fc").isNotNull())
        .crossJoin(F.broadcast(cut))
        .transform(materialize)
    )
    calq = v.filter(F.col("m") <= F.col("cutoff")).select(
        "model", (F.col("rev_c") - F.col("fc")).alias("res")
    ).select(
        "model", "res",
        F.row_number().over(
            Window.partitionBy("model").orderBy("res")
        ).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("model")).alias("n"),
    )
    q = calq.groupBy("model").agg(
        F.max("n").cast("bigint").alias("n_cal"),
        F.expr(
            "cast(max(case when rk = (n * 10 + 99) div 100 then res end) "
            "as bigint)"
        ).alias("lo_c"),
        F.expr(
            "cast(max(case when rk = (n * 90 + 99) div 100 then res end) "
            "as bigint)"
        ).alias("hi_c"),
    )
    ev = v.filter(F.col("m") > F.col("cutoff")).select(
        "model", (F.col("rev_c") - F.col("fc")).alias("r")
    )
    return (
        ev.join(F.broadcast(q), "model")
        .groupBy("model", "n_cal", "lo_c", "hi_c")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.expr(
                "cast(sum(case when r between lo_c and hi_c then 1 else 0 end) "
                "as bigint)"
            ).alias("n_covered"),
            F.expr(
                "cast(sum(case when r between lo_c and hi_c then 1 else 0 end) "
                "* 1000000 div count(1) as bigint)"
            ).alias("coverage_u6"),
        )
        .select(
            "model", "n_cal", "n_eval", "lo_c", "hi_c", "n_covered",
            "coverage_u6",
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity — the MIXING-PATTERN member of the graph
# family (triangles measure local cohesion; this asks whether hubs
# attach to hubs or to leaves — the single number that most shapes
# how the co-purchase graph percolates): Pearson correlation of
# endpoint degrees over the symmetrized edge list. Symmetrization
# makes the two marginals IDENTICAL, so Pearson's sqrt cancels:
# r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — one integral micro-unit
# division of exact widened integers, no transcendentals at all.
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      WHERE c >= {TRI_MIN_SUPPORT}),
    e AS (SELECT u AS src, v AS dst FROM und
          UNION ALL SELECT v, u FROM und),
    deg AS (SELECT src AS node, COUNT(*)::BIGINT AS d FROM e GROUP BY 1),
    p AS (SELECT da.d AS x, db.d AS y
          FROM e JOIN deg da ON da.node = e.src
                 JOIN deg db ON db.node = e.dst),
    a AS (SELECT COUNT(*)::HUGEINT AS m,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM p)
    SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
           CAST(m / 2 AS BIGINT) AS n_edges,
           CAST((m * sxy - sx * sx) * 1000000
                // (m * sxx - sx * sx) AS BIGINT) AS assortativity_u6
    FROM a
    """


@query("copurchase_assortativity", _ASSORT_ORACLE)
def q_copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the support-pruned co-purchase graph
    (same graph as triangles/PPR/BFS): degrees from the symmetrized
    edge list, one broadcast-degree join onto the edges, one widened
    integer fold. Negative values = hub-and-spoke mixing (hubs attach
    to leaves), positive = core-periphery. Everything after the
    basket expansion is edge-table-sized."""
    und = copurchase_pairs(spark, sf_dir)
    e = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).transform(materialize)
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    p = e.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    a = p.agg(
        F.expr("cast(count(1) as decimal(38,0))").alias("m"),
        F.expr("sum(cast(x as decimal(38,0)))").alias("sx"),
        F.expr("sum(cast(x as decimal(38,0)) * x)").alias("sxx"),
        F.expr("sum(cast(x as decimal(38,0)) * y)").alias("sxy"),
    )
    n = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return n.crossJoin(F.broadcast(a)).select(
        "n_nodes",
        F.expr("cast(m / 2 as bigint)").alias("n_edges"),
        F.expr(
            "cast((m * sxy - sx * sx) * 1000000 div (m * sxx - sx * sx) "
            "as bigint)"
        ).alias("assortativity_u6"),
    )


# ---------------------------------------------------------------------------
# Lorenz deciles — the CURVE the Gini coefficient summarizes
# (nation_revenue_gini reports the area number; this reports the ten
# points a dashboard actually plots): per nation, customers ascend by
# lifetime revenue into NTILE(10) deciles, each row giving the
# decile's share and the cumulative share below-and-including it.
# ---------------------------------------------------------------------------

_LORENZ_ORACLE = """
    WITH x AS MATERIALIZED (
      SELECT n.n_name AS nation, c.c_custkey,
             COALESCE(SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT)), 0)
               ::BIGINT AS rev_c
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    t AS (SELECT nation, rev_c,
                 NTILE(10) OVER (PARTITION BY nation
                                 ORDER BY rev_c, c_custkey) AS decile
          FROM x),
    g AS (SELECT nation, decile, COUNT(*)::BIGINT AS n_cust,
                 SUM(rev_c)::BIGINT AS rev_c
          FROM t GROUP BY 1, 2),
    w AS (SELECT *,
                 SUM(rev_c) OVER (PARTITION BY nation ORDER BY decile
                                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_c,
                 SUM(rev_c) OVER (PARTITION BY nation)::BIGINT AS tot_c
          FROM g)
    SELECT nation, decile::BIGINT AS decile, n_cust, rev_c,
           CAST(rev_c * 1000000 // tot_c AS BIGINT) AS share_u6,
           CAST(cum_c * 1000000 // tot_c AS BIGINT) AS cum_share_u6
    FROM w
    """


@query("nation_lorenz_deciles", _LORENZ_ORACLE)
def q_nation_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten Lorenz-curve points per nation over customer lifetime
    revenue (zero-order customers included at zero, the
    nation_revenue_gini population verbatim — the two queries plot and
    summarize the SAME curve): total-order NTILE(10), decile
    aggregate, nation-partitioned cumulative share in integral
    micro-units. Windows order customer-level rows only."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    x = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(
            F.expr(
                "cast(coalesce(sum(cast(floor(o_totalprice * 100) as bigint)), 0)"
                " as bigint)"
            ).alias("rev_c")
        )
    )
    t = x.select(
        "nation", "rev_c",
        F.ntile(10).over(
            Window.partitionBy("nation").orderBy("rev_c", "c_custkey")
        ).cast("bigint").alias("decile"),
    )
    g = t.groupBy("nation", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("rev_c").cast("bigint").alias("rev_c"),
    )
    wn = Window.partitionBy("nation")
    w = g.select(
        "*",
        F.sum("rev_c").over(
            wn.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("cum_c"),
        F.sum("rev_c").over(wn).cast("bigint").alias("tot_c"),
    )
    return w.select(
        "nation", "decile", "n_cust", "rev_c",
        F.expr("cast(rev_c * 1000000 div tot_c as bigint)").alias("share_u6"),
        F.expr("cast(cum_c * 1000000 div tot_c as bigint)").alias(
            "cum_share_u6"
        ),
    )


# ---------------------------------------------------------------------------
# Grouped OLS — regression PER KEY as a pure aggregate (theilsen/zipf
# fit one global line; real feature pipelines fit thousands of
# per-segment lines in one pass): quantity-on-discount slope per part
# type, the "does a deeper discount move volume for THIS category"
# table. Five widened integer sums per group, one integral division —
# a grouped regression with zero iterations and zero floats.
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
    WITH j AS (SELECT p.p_type AS ptype,
                      CAST(round(l.l_discount * 100) AS BIGINT) AS d_pct,
                      CAST(l.l_quantity AS BIGINT) AS qty
               FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    a AS (SELECT ptype, COUNT(*)::HUGEINT AS n,
                 SUM(CAST(d_pct AS HUGEINT)) AS sx,
                 SUM(CAST(qty AS HUGEINT)) AS sy,
                 SUM(CAST(d_pct AS HUGEINT) * qty) AS sxy,
                 SUM(CAST(d_pct AS HUGEINT) * d_pct) AS sxx
          FROM j GROUP BY ptype)
    SELECT ptype, CAST(n AS BIGINT) AS n_items,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_u6,
           CAST((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx)
                // (n * (n * sxx - sx * sx)) AS BIGINT) AS intercept_u6
    FROM a WHERE n * sxx - sx * sx <> 0
    """


@query("discount_quantity_elasticity", _ELASTICITY_ORACLE)
def q_discount_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part-type OLS of quantity on discount points: one broadcast
    dim join, five map-side integer sums per group, slope and
    intercept as integral micro-unit divisions (degenerate
    zero-variance groups drop). The grouped-regression shape — every
    group fits in the same single shuffle an ordinary aggregate
    costs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(round(l_discount * 100) as bigint)").alias("d_pct"),
        F.expr("cast(l_quantity as bigint)").alias("qty"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        F.col("p_type").alias("ptype"), "d_pct", "qty"
    )
    a = j.groupBy("ptype").agg(
        F.expr("cast(count(1) as decimal(38,0))").alias("n"),
        F.expr("sum(cast(d_pct as decimal(38,0)))").alias("sx"),
        F.expr("sum(cast(qty as decimal(38,0)))").alias("sy"),
        F.expr("sum(cast(d_pct as decimal(38,0)) * qty)").alias("sxy"),
        F.expr("sum(cast(d_pct as decimal(38,0)) * d_pct)").alias("sxx"),
    )
    return a.filter(F.expr("n * sxx - sx * sx <> 0")).select(
        "ptype",
        F.expr("cast(n as bigint)").alias("n_items"),
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
            "as bigint)"
        ).alias("slope_u6"),
        F.expr(
            "cast((sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx) "
            "div (n * (n * sxx - sx * sx)) as bigint)"
        ).alias("intercept_u6"),
    )


# ---------------------------------------------------------------------------
# Bounce rate — the QUALITY number over the sessionization family
# (session_30m builds sessions, peak_concurrent_sessions measures
# load; this measures engagement): per session-start day, how many
# sessions were single-event bounces.
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events),
    m AS (SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                          OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                         THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s0 AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
           FROM m),
    s AS (SELECT user_id, sid, MIN(ts) AS a0, COUNT(*)::BIGINT AS n_ev
          FROM s0 GROUP BY 1, 2)
    SELECT strftime(CAST(a0 AS DATE), '%Y-%m-%d') AS day,
           COUNT(*)::BIGINT AS n_sessions,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_u6
    FROM s GROUP BY 1
    """


@query("daily_bounce_rate", _BOUNCE_ORACLE)
def q_daily_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per start-day bounce rate of 30-minute sessions (the same
    F.session_window op the family shares): single-event sessions over
    all sessions, integral micro-units. One user-key shuffle for the
    session build, one day aggregate."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.min("ts").alias("a0"), F.count(F.lit(1)).cast("bigint").alias("n_ev"))
        .drop("w", "user_id")
    )
    return s.groupBy(
        F.date_format(F.to_date("a0"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.expr(
            "cast(sum(case when n_ev = 1 then 1 else 0 end) as bigint)"
        ).alias("n_bounces"),
        F.expr(
            "cast(sum(case when n_ev = 1 then 1 else 0 end) * 1000000 "
            "div count(1) as bigint)"
        ).alias("bounce_u6"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality — the CALENDAR member of the time-series
# family (LOCF fills gaps, the backtest scores models; this measures
# the weekly rhythm those models must beat): revenue share per
# weekday vs the uniform 1/7, as a seasonality index. Weekday comes
# from PURE DATE ARITHMETIC — days since a known Monday, mod 7 —
# because the engines' dayofweek()/strftime conventions differ
# (Sunday=1 vs Sunday=0) while integer datediff does not.
# ---------------------------------------------------------------------------

_DOW_ANCHOR = "1990-01-01"  # a Monday; fixture dates all follow it
_DOW_NAMES = (
    "CASE dow WHEN 0 THEN 'Mon' WHEN 1 THEN 'Tue' WHEN 2 THEN 'Wed' "
    "WHEN 3 THEN 'Thu' WHEN 4 THEN 'Fri' WHEN 5 THEN 'Sat' "
    "WHEN 6 THEN 'Sun' END"
)

_DOW_ORACLE = f"""
    WITH o AS (SELECT date_diff('day', DATE '{_DOW_ANCHOR}',
                                CAST(o_orderdate AS DATE)) % 7 AS dow,
                      CAST(floor(o_totalprice * 100) AS BIGINT) AS rev_c
               FROM orders),
    g AS (SELECT dow, COUNT(*)::BIGINT AS n_orders,
                 SUM(rev_c)::BIGINT AS rev_c
          FROM o GROUP BY dow)
    SELECT dow::BIGINT AS dow, {_DOW_NAMES} AS dow_name, n_orders, rev_c,
           CAST(rev_c * 1000000 // SUM(rev_c) OVER () AS BIGINT) AS share_u6,
           CAST(rev_c * 7000000 // SUM(rev_c) OVER () AS BIGINT) AS index_u6
    FROM g
    """


@query("dow_revenue_seasonality", _DOW_ORACLE)
def q_dow_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday revenue profile: dow = datediff from the {_DOW_ANCHOR}
    Monday mod 7 (convention-free across engines), revenue share and
    the ×7 seasonality index in integral micro-units (10⁶ = exactly
    uniform). One scan, a 7-row aggregate, a tiny window."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            f"datediff(to_date(o_orderdate), date'{_DOW_ANCHOR}') % 7"
        ).alias("dow"),
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("rev_c"),
    )
    g = o.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("rev_c").cast("bigint").alias("rev_c"),
    )
    return g.select(
        F.col("dow").cast("bigint").alias("dow"),
        F.expr(_DOW_NAMES).alias("dow_name"),
        "n_orders",
        "rev_c",
        F.expr("cast(rev_c * 1000000 div sum(rev_c) over () as bigint)").alias(
            "share_u6"
        ),
        F.expr("cast(rev_c * 7000000 div sum(rev_c) over () as bigint)").alias(
            "index_u6"
        ),
    )


# ---------------------------------------------------------------------------
# Point-in-time SCD2 probe — the READ side of scd2_priority_history
# (building the dimension is half the pattern; the Kimball payoff is
# joining facts to the version that was CURRENT at fact time): each
# shipment joins its customer's priority segment valid at ship date.
# Spark-first shape: equi-join on the customer key (fan-out = that
# customer's few segments), then the [valid_from, valid_to) range
# filter — never a blind non-equi join. A fact dated BEFORE the
# customer's first segment has no valid dimension row and drops (the
# Kimball "unknown member" case — this fixture's synthetic ship dates
# can precede the order date); everything else matches EXACTLY one
# segment, the conservation law the test pins.
# ---------------------------------------------------------------------------

_SCD2_PIT_ORACLE = """
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
    dim AS (SELECT o_custkey, seg, priority, MIN(d) AS vf
            FROM g GROUP BY o_custkey, seg, priority),
    dim2 AS (SELECT o_custkey, priority, vf,
                    COALESCE(LEAD(vf) OVER (PARTITION BY o_custkey
                                            ORDER BY seg),
                             DATE '9999-12-31') AS vt
             FROM dim),
    f AS (SELECT o.o_custkey, CAST(l.l_shipdate AS DATE) AS ship_d,
                 CAST(l.l_quantity AS BIGINT) AS qty,
                 CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS price_c
          FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT d.priority AS priority_at_ship,
           COUNT(*)::BIGINT AS n_items,
           SUM(f.qty)::BIGINT AS total_qty,
           SUM(f.price_c)::BIGINT AS total_price_c
    FROM f JOIN dim2 d ON d.o_custkey = f.o_custkey
                      AND f.ship_d >= d.vf AND f.ship_d < d.vt
    GROUP BY 1
    """


@query("scd2_point_in_time_shipments", _SCD2_PIT_ORACLE)
def q_scd2_point_in_time_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipment volume by the priority that was CURRENT for the
    customer at ship time: the scd2_priority_history dimension
    verbatim ([valid_from, valid_to) half-open intervals, 9999-12-31
    sentinel), probed by lineitem ship dates through an equi-join on
    the customer key with the range test as a post-filter; facts
    predating the customer's history drop (unknown member). One
    customer-keyed shuffle each side; the fan-out is bounded by
    segments-per-customer, never |dim|."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
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
    dim = g.groupBy("o_custkey", "seg", "priority").agg(F.min("d").alias("vf"))
    dim2 = dim.select(
        "o_custkey", "priority", "vf",
        F.coalesce(
            F.lead("vf").over(Window.partitionBy("o_custkey").orderBy("seg")),
            F.lit("9999-12-31").cast("date"),
        ).alias("vt"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.to_date("l_shipdate").alias("ship_d"),
        F.expr("cast(l_quantity as bigint)").alias("qty"),
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("price_c"),
    )
    okeys = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    f = li.join(okeys, li["l_orderkey"] == okeys["o_orderkey"]).select(
        "o_custkey", "ship_d", "qty", "price_c"
    )
    j = f.join(
        dim2,
        (f["o_custkey"] == dim2["o_custkey"])
        & (F.col("ship_d") >= F.col("vf"))
        & (F.col("ship_d") < F.col("vt")),
    )
    return j.groupBy(F.col("priority").alias("priority_at_ship")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("qty").cast("bigint").alias("total_qty"),
        F.sum("price_c").cast("bigint").alias("total_price_c"),
    )


# ---------------------------------------------------------------------------
# Order inter-arrival — the REPURCHASE-CADENCE member of the
# behavioral family (RFM scores recency once; this measures the whole
# gap distribution): per market segment, discrete percentiles of the
# days between a customer's consecutive orders. The number a
# replenishment/retention team sets reminder windows by.
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
    WITH o AS (SELECT c.c_mktsegment AS segment, o.o_custkey,
                      CAST(o.o_orderdate AS DATE) AS d, o.o_orderkey
               FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    g AS (SELECT segment, o_custkey,
                 date_diff('day',
                           LAG(d) OVER (PARTITION BY o_custkey
                                        ORDER BY d, o_orderkey),
                           d)::BIGINT AS gap_d
          FROM o),
    l AS (SELECT segment, gap_d FROM g WHERE gap_d IS NOT NULL),
    r AS (SELECT segment, gap_d,
                 ROW_NUMBER() OVER (PARTITION BY segment
                                    ORDER BY gap_d) AS rk,
                 COUNT(*) OVER (PARTITION BY segment) AS n
          FROM l)
    SELECT segment, MAX(n)::BIGINT AS n_gaps,
           MIN(gap_d)::BIGINT AS min_gap_d,
           MAX(CASE WHEN rk = (n * 50 + 99) // 100 THEN gap_d END)::BIGINT
             AS p50_gap_d,
           MAX(CASE WHEN rk = (n * 90 + 99) // 100 THEN gap_d END)::BIGINT
             AS p90_gap_d,
           MAX(gap_d)::BIGINT AS max_gap_d,
           (SUM(gap_d) // MAX(n))::BIGINT AS mean_gap_d
    FROM r GROUP BY segment
    """


@query("segment_order_interarrival", _INTERARRIVAL_ORACLE)
def q_segment_order_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer (lag within the
    customer's date-ordered stream, orderkey tie-break), summarized
    per segment at exact discrete rank-⌈p·n⌉ percentiles. The lag
    window keys by customer, the percentile window by segment —
    both natural partitionings, no global sort; the gap ordering
    inside a segment is value-based, so equal gaps permute freely
    without touching any output."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("d")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"), "o_custkey", "d", "o_orderkey"
    )
    wl = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    l = o.select(
        "segment",
        F.datediff("d", F.lag("d").over(wl)).cast("bigint").alias("gap_d"),
    ).filter(F.col("gap_d").isNotNull())
    ws = Window.partitionBy("segment")
    r = l.select(
        "segment", "gap_d",
        F.row_number().over(ws.orderBy("gap_d")).alias("rk"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    return r.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min("gap_d").cast("bigint").alias("min_gap_d"),
        F.expr(
            "cast(max(case when rk = (n * 50 + 99) div 100 then gap_d end) "
            "as bigint)"
        ).alias("p50_gap_d"),
        F.expr(
            "cast(max(case when rk = (n * 90 + 99) div 100 then gap_d end) "
            "as bigint)"
        ).alias("p90_gap_d"),
        F.max("gap_d").cast("bigint").alias("max_gap_d"),
        F.expr("cast(sum(gap_d) div max(n) as bigint)").alias("mean_gap_d"),
    )
