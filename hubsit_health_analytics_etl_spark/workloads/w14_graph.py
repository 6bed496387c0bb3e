"""PageRank, triangles, association rules, LOCF gap-fill, manifest blooms, TextRank, LSH recall eval, personalized PageRank, centroid drift, token waterfill, HITS, BFS.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from ..operators.theta import theta_estimate, theta_sketch  # noqa: E402
from .w02_dedup import _minhash_pairs_ctes, _run_scoped_index_dir  # noqa: E402
from .w09_curation_lifecycle import FORGET_PCT  # noqa: E402
from .w13_index_lifecycle import _THETA_MONTH_SPARK, _theta_distinct_oracle  # noqa: E402


# ---------------------------------------------------------------------------
# PageRank — the centrality member of the graph family (connected
# components = identity, label propagation = attribute spread,
# PageRank = influence score). All-integer micro-unit arithmetic
# (operators/clusters.py::page_rank) makes the fixed-iteration run
# exactly reproducible in a DuckDB oracle of unrolled MATERIALIZED
# CTEs — no float tolerance anywhere.
# ---------------------------------------------------------------------------
PR_ITER = 3
PR_TOP = 25
PR_INIT = 1_000_000
PR_BASE = 150_000  # init·(100−85) div 100


def _pagerank_oracle() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITER + 1):
        rounds.append(
            f"r{i} AS MATERIALIZED (SELECT e.dst AS node, "
            f"({PR_BASE} + (85 * SUM({prev}.r // deg.d)) // 100)::BIGINT AS r "
            f"FROM e JOIN {prev} ON {prev}.node = e.src "
            f"JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        prev = f"r{i}"
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
             'C' || CAST(o_custkey AS VARCHAR) AS b
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS MATERIALIZED (SELECT a AS src, b AS dst FROM raw
                       UNION ALL SELECT b AS src, a AS dst FROM raw),
    deg AS MATERIALIZED (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY src),
    r0 AS MATERIALIZED (SELECT src AS node, {PR_INIT}::BIGINT AS r FROM deg),
    {", ".join(rounds)},
    ranked AS (SELECT node, r AS rank_u6,
                      ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rk
               FROM {prev})
    SELECT node, rank_u6, rk::BIGINT AS rk FROM ranked WHERE rk <= {PR_TOP}
    """


@query("supplier_customer_pagerank", _pagerank_oracle())
def q_supplier_customer_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOP} nodes of the symmetrized supplier↔customer
    co-purchase graph by {PR_ITER}-iteration integer PageRank.
    The edge list (distinct supplier→customer pairs through
    lineitem⋈orders, both directions so no node dangles) materializes
    once; each iteration is one join shuffle + one agg shuffle with
    per-iteration-flat lineage (operators/clusters.py::page_rank).
    rank_u6 is exact-integer on both engines — the oracle unrolls the
    {PR_ITER} rounds as MATERIALIZED CTEs and hash-matches with zero
    tolerance."""
    from ..operators.clusters import page_rank
    from ..operators.reshape import top_k

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    raw = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("a"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    edges = raw.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        raw.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = page_rank(edges, n_iter=PR_ITER, init_u6=PR_INIT)
    ranked = top_k(
        pr, [], [F.col("rank_u6").desc(), F.col("node")], PR_TOP, "rk"
    )
    return ranked.select(
        "node", "rank_u6", F.col("rk").cast("bigint").alias("rk")
    )


# ---------------------------------------------------------------------------
# Triangle counting — graph cohesion (market-basket triads over the
# co-purchased-parts graph). Fourth graph-family member: CC answers
# reachability, label propagation spreads attributes, PageRank scores
# influence, triangles measure local DENSITY (clustering coefficient).
# Exact-integer end to end, so the oracle hash-matches the whole
# report including the micro-unit clustering coefficient.
# ---------------------------------------------------------------------------
TRI_TOP = 20
# support pruning: an edge needs >= 2 co-purchase orders. The classic
# market-basket lever AND the scale lever: one-off co-occurrences are
# combinatorial noise that grows ~linearly with order volume, while
# repeat pairs are the stationary signal (~4k edges at every fixture
# SF) — at 100 TB you never triangle-count the unpruned co-occurrence
# graph.
TRI_MIN_SUPPORT = 2


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The support-pruned co-purchased-parts graph shared by every
    co-purchase query: one ``(u, v, c)`` row per part pair ``u < v``
    that shares ``c >= TRI_MIN_SUPPORT`` distinct orders — the
    oracles' ``op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk`` CTE.

    ONE lineitem scan: baskets partial-aggregate map-side (bounded by
    basket size) and pairs explode JVM-side from each order's sorted
    distinct-part array — no self-join, no second scan (warm, at
    sf0.1 on local[4]: 1.49 s vs 1.94 s for the self-join; a tie at
    sf0.01 in a fresh JVM). Returned behind a
    lazy materialize (~4k rows at every fixture SF): the first
    action materializes it, and edges, degrees, seeds and every round
    after that read cached blocks, so the aggregation runs once per
    query, not once per consumer."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pair = F.expr(
        "inline(flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts) - i - 1), "
        "y -> struct(x as u, y as v)))))"
    )
    return (
        baskets.select(pair)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= TRI_MIN_SUPPORT)
        .transform(materialize)
    )


def copurchase_seeds(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """The ``PPR_SEEDS`` highest-support parts (distinct-order count,
    ties by part key) among the nodes of the materialized ``pairs``
    graph, as a ``(node)`` frame — the seed rule shared by
    related_parts_ppr, part_hops_bfs and part_weighted_distance. Only
    the cached pairs and one lineitem scan feed it: the pair
    aggregation is never re-derived."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    nodes = pairs.select(F.col("u").alias("pk")).unionByName(
        pairs.select(F.col("v").alias("pk"))
    )
    return (
        op.join(nodes, "pk", "left_semi")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("pk"))
        .limit(PPR_SEEDS)
        .select(F.col("pk").alias("node"))
    )


_TRIANGLE_ORACLE = f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS MATERIALIZED (
      SELECT u, v FROM (
        SELECT a.pk AS u, b.pk AS v, COUNT(*) AS c
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2)
      WHERE c >= {TRI_MIN_SUPPORT}),
    deg AS MATERIALIZED (
      SELECT node, COUNT(*)::BIGINT AS degree FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
      GROUP BY node),
    t AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (
      SELECT node, COUNT(*)::BIGINT AS tri FROM (
        SELECT a AS node FROM t UNION ALL
        SELECT b AS node FROM t UNION ALL
        SELECT c AS node FROM t)
      GROUP BY node),
    r AS (
      SELECT deg.node, COALESCE(corners.tri, 0)::BIGINT AS tri_count, deg.degree,
             (CASE WHEN deg.degree >= 2
                   THEN (2 * COALESCE(corners.tri, 0) * 1000000)
                        // (deg.degree * (deg.degree - 1))
                   ELSE 0 END)::BIGINT AS cc_u6,
             ROW_NUMBER() OVER (ORDER BY COALESCE(corners.tri, 0) DESC, deg.node)
               AS rk
      FROM deg LEFT JOIN corners USING (node))
    SELECT node AS part_key, tri_count, degree, cc_u6, rk::BIGINT AS rk
    FROM r WHERE rk <= {TRI_TOP}
    """


@query("copurchase_triangles", _TRIANGLE_ORACLE)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TRI_TOP} parts by triangle participation in the
    SUPPORT-PRUNED co-purchased-parts graph (edge = two parts sharing
    ≥ {TRI_MIN_SUPPORT} orders — repeat pairs are the market-basket
    signal, one-off co-occurrences the noise that would grow linearly
    with order volume), with exact degree and integer-micro-unit
    clustering coefficient cc_u6 = (2·tri·10⁶) div (deg·(deg−1)).
    The operator (operators/clusters.py::triangle_count) orients each
    edge low-degree→high-degree so wedge fan-out is arboricity-bounded
    (a hub's quadratic pair blow-up never materializes); every
    triangle is found exactly once at its min-rank corner. The edge
    list is :func:`copurchase_pairs` (one lineitem scan, materialized
    once for degrees, orientation, wedges and the close join)."""
    from ..operators.clusters import triangle_count
    from ..operators.reshape import top_k

    edges = copurchase_pairs(spark, sf_dir).select("u", "v")
    tc = triangle_count(edges)
    r = tc.select(
        F.col("node").alias("part_key"),
        "tri_count",
        "degree",
        F.expr(
            "cast(case when degree >= 2 then "
            "(2 * tri_count * 1000000) div (degree * (degree - 1)) "
            "else 0 end as bigint)"
        ).alias("cc_u6"),
    )
    ranked = top_k(
        r, [], [F.col("tri_count").desc(), F.col("part_key")], TRI_TOP, "rk"
    )
    return ranked.select(
        "part_key", "tri_count", "degree", "cc_u6",
        F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Association rules — the market-basket sibling of copurchase_triangles:
# directed pair rules a→b scored by support / confidence / lift, all in
# integer micro-units (confidence = (supp_ab·10⁶) div supp_a, lift =
# (supp_ab·N·10⁶) div (supp_a·supp_b)), so the whole report is
# hash-exact cross-engine. Supports are DISTINCT-ORDER counts (a part
# repeated within one order counts once).
# ---------------------------------------------------------------------------
RULES_TOP = 20
RULES_MIN_SUPPORT = 2


_RULES_ORACLE = f"""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    supp AS MATERIALIZED (
      SELECT pk, COUNT(*)::BIGINT AS s FROM op GROUP BY pk),
    n AS (SELECT COUNT(DISTINCT ok)::BIGINT AS n_orders FROM op),
    pairs AS MATERIALIZED (
      SELECT a.pk AS u, b.pk AS v, COUNT(*)::BIGINT AS s_ab
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= {RULES_MIN_SUPPORT}),
    rules AS (
      SELECT u AS ant, v AS cons, s_ab FROM pairs
      UNION ALL
      SELECT v AS ant, u AS cons, s_ab FROM pairs),
    scored AS (
      SELECT r.ant, r.cons, r.s_ab AS supp_pair,
             ((r.s_ab * 1000000) // sa.s)::BIGINT AS conf_u6,
             ((r.s_ab * n.n_orders * 1000000) // (sa.s * sb.s))::BIGINT AS lift_u6
      FROM rules r
      JOIN supp sa ON sa.pk = r.ant
      JOIN supp sb ON sb.pk = r.cons
      CROSS JOIN n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift_u6 DESC, ant, cons) AS rk
      FROM scored)
    SELECT ant, cons, supp_pair, conf_u6, lift_u6, rk::BIGINT AS rk
    FROM ranked WHERE rk <= {RULES_TOP}
    """


@query("copurchase_rules", _RULES_ORACLE)
def q_copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RULES_TOP} association rules part→part by LIFT over orders
    with ≥ {RULES_MIN_SUPPORT} co-purchases — support / confidence /
    lift in exact integer micro-units. The basket pass is one
    per-order self-join on the distinct (order, part) projection
    (bounded by basket size, support groupBy partial-aggregates
    map-side); the part-support table joins back twice (antecedent +
    consequent) and N is a broadcast scalar — the Apriori level-2
    report an analytics engine owes its basket data."""
    from ..operators.reshape import top_k

    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    supp = op.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    n = op.agg(F.countDistinct("ok").cast("bigint").alias("n_orders"))
    b = op.select(F.col("ok"), F.col("pk").alias("pb"))
    pairs = (
        op.join(b, (op["ok"] == b["ok"]) & (op["pk"] < b["pb"]))
        .groupBy(F.col("pk").alias("u"), F.col("pb").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_ab"))
        .filter(F.col("s_ab") >= RULES_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.col("u").alias("ant"), F.col("v").alias("cons"), "s_ab"
    ).unionByName(
        pairs.select(F.col("v").alias("ant"), F.col("u").alias("cons"), "s_ab")
    )
    scored = (
        rules.join(supp.select(F.col("pk").alias("ant"), F.col("s").alias("_sa")), "ant")
        .join(supp.select(F.col("pk").alias("cons"), F.col("s").alias("_sb")), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ant",
            "cons",
            F.col("s_ab").alias("supp_pair"),
            F.expr("cast((s_ab * 1000000) div _sa as bigint)").alias("conf_u6"),
            F.expr(
                "cast((s_ab * n_orders * 1000000) div (_sa * _sb) as bigint)"
            ).alias("lift_u6"),
        )
    )
    ranked = top_k(
        scored,
        [],
        [F.col("lift_u6").desc(), F.col("ant"), F.col("cons")],
        RULES_TOP,
        "rk",
    )
    return ranked.select(
        "ant", "cons", "supp_pair", "conf_u6", "lift_u6",
        F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# LOCF gap-fill — last-observation-carried-forward over a (nation ×
# month) spine: the time-series repair every reporting pipeline needs
# when a dimension goes quiet for a period. Exercises IGNORE NULLS
# running windows (F.last(ignorenulls=True) == DuckDB last_value(x
# IGNORE NULLS)); revenue is exact integer cents so the fill is
# hash-identical cross-engine.
# ---------------------------------------------------------------------------


_LOCF_ORACLE = """
    WITH months AS MATERIALIZED (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m FROM orders),
    rev AS MATERIALIZED (
      SELECT n.n_name AS nation, strftime(o.o_orderdate, '%Y-%m') AS m,
             SUM(CAST(floor(o.o_totalprice * 100) AS BIGINT))::BIGINT AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    spine AS (SELECT n_name AS nation, m FROM nation CROSS JOIN months),
    filled AS (
      SELECT s.nation, s.m AS month, rev.rev_c,
             last_value(rev.rev_c IGNORE NULLS) OVER (
               PARTITION BY s.nation ORDER BY s.m
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
      FROM spine s LEFT JOIN rev ON rev.nation = s.nation AND rev.m = s.m)
    SELECT nation, month,
           COALESCE(locf, 0)::BIGINT AS rev_filled_c,
           (CASE WHEN rev_c IS NOT NULL THEN 'obs'
                 WHEN locf IS NOT NULL THEN 'locf'
                 ELSE 'none' END) AS fill_src
    FROM filled
    """


@query("nation_month_locf", _LOCF_ORACLE)
def q_nation_month_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per nation over the FULL observed-month spine,
    gaps repaired by last-observation-carried-forward: one IGNORE
    NULLS running window per nation (partitioned — no global sort),
    integer-cent revenue so the filled series hash-matches DuckDB's
    last_value(IGNORE NULLS) exactly. fill_src labels each cell
    obs / locf / none (nation quiet since the epoch). The spine is
    |nations|×|months| (a broadcast cross of two tiny dims)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("m"),
        )
        .agg(
            F.sum(F.expr("cast(floor(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("rev_c")
        )
    )
    months = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("m")
    ).distinct()
    spine = nation.select(F.col("n_name").alias("nation")).crossJoin(
        F.broadcast(months)
    )
    w = (
        Window.partitionBy("nation")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(rev, ["nation", "m"], "left")
        .withColumn("locf", F.last("rev_c", ignorenulls=True).over(w))
    )
    return filled.select(
        "nation",
        F.col("m").alias("month"),
        F.coalesce(F.col("locf"), F.lit(0)).cast("bigint").alias("rev_filled_c"),
        F.when(F.col("rev_c").isNotNull(), F.lit("obs"))
        .when(F.col("locf").isNotNull(), F.lit("locf"))
        .otherwise(F.lit("none"))
        .alias("fill_src"),
    )


# ---------------------------------------------------------------------------
# Manifest bloom point lookup — the third file-skipping mode of the
# versioned table after min/max range pruning (versioned_pruned_read)
# and Z-order clustering (versioned_zorder_read): per-file bloom
# filters skip files on POINT lookups over a HASH-SCATTERED key, where
# every file's min/max span covers the whole domain and range stats
# can prune nothing.
# ---------------------------------------------------------------------------
BLOOM_PROBE_KEYS = [7, 1234, 4321]


@query(
    "versioned_bloom_read",
    f"""
    SELECT o_orderkey, o_orderpriority,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders WHERE o_orderkey IN ({", ".join(str(k) for k in BLOOM_PROBE_KEYS)})
    """,
)
def q_versioned_bloom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping end-to-end: orders is committed
    HASH-scattered on o_orderkey (every file spans ~the whole key
    range — min/max stats are useless for a point probe) with
    per-file blooms in the manifest; each probe key is read back
    through `read_version(point=(o_orderkey, k))`, which drops every
    file whose bloom proves the key absent (files-read <
    files-in-manifest pinned in pytest). Oracle = the plain IN-list
    select, so the hash match proves bloom skipping loses no rows
    (false positives only, never negatives). Commit cost rides inside
    the timed query (the versioned_pruned_read posture)."""
    from functools import reduce

    from ..sources.versioned import commit_version, read_version

    root = _run_scoped_index_dir("versioned_bloom")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("price_c"),
    )
    commit_version(
        # lint: fixture-files — 8 keyed files so bloom skipping has files to skip
        orders.repartition(8, "o_orderkey"),
        root,
        bloom_cols=["o_orderkey"],
    )
    probes = [
        read_version(spark, root, point=("o_orderkey", k))
        for k in BLOOM_PROBE_KEYS
    ]
    return reduce(lambda a, b: a.unionByName(b), probes).select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "o_orderpriority",
        "price_c",
    )


_THETA_KEPT_ORDERS = (
    "kept AS (SELECT * FROM orders "
    f"WHERE {sql_hash_bucket('o_custkey', salt='forget')} >= {FORGET_PCT}), "
)


@query("theta_forget", _theta_distinct_oracle(src="kept", prelude=_THETA_KEPT_ORDERS))
def q_theta_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the theta index — the REBUILD-FROM-KEPT
    contract (KMV has no algebraic inverse: a deleted hash below θ
    cannot be replaced from above θ, the same non-invertibility as
    HLL; the A-NOT-B estimator answers "how much would deleting remove"
    at index cost, this query performs the actual deletion): the
    standing monthly index is persisted, the stable {FORGET_PCT}% of
    customers (by o_custkey hash) are deleted, ONLY the affected
    months' sketches rebuild from their kept rows (cost ∝
    kept-of-affected; untouched months' index rows pass through
    byte-identical), and the maintained index's report hash-matches
    the oracle's from-scratch recompute over kept orders."""
    import os

    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders").select(
        F.expr(_THETA_MONTH_SPARK).alias("month"), "o_custkey"
    )
    idx_path = os.path.join(_run_scoped_index_dir("theta_forget"), "theta_months")
    write_parquet(theta_sketch(orders, ["month"], "o_custkey", prefilter=False), idx_path)
    idx = spark.read.parquet(idx_path)

    is_del = hash_bucket("o_custkey", salt="forget") < FORGET_PCT
    kept = orders.filter(~is_del)
    affected = orders.filter(is_del).select("month").distinct()
    untouched = idx.join(affected, "month", "left_anti")
    rebuilt = theta_sketch(
        kept.join(F.broadcast(affected), "month"), ["month"], "o_custkey",
        prefilter=False,
    )
    merged = untouched.unionByName(rebuilt)

    exact = kept.groupBy("month").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_distinct")
    )
    return (
        theta_estimate(merged)
        .join(exact, "month")
        .select(
            "month",
            "est_distinct",
            F.expr("cast(size(hs) as bigint)").alias("k_kept"),
            "exact_distinct",
            (F.col("est_distinct") - F.col("exact_distinct"))
            .cast("bigint")
            .alias("err"),
        )
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction — PageRank COMPOSED over the token
# co-occurrence graph (Mihalcea & Tarau 2004): adjacent-token bigrams
# with corpus support become symmetric edges, the integer PageRank
# operator ranks tokens by graph centrality. The composition query:
# both pieces (bigram support counting, page_rank) already exist —
# this is what an engine's operators are FOR.
# ---------------------------------------------------------------------------
TEXTRANK_TOP = 20
TEXTRANK_MIN_COOC = 5


def _textrank_oracle() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITER + 1):
        rounds.append(
            f"r{i} AS MATERIALIZED (SELECT e.dst AS node, "
            f"({PR_BASE} + (85 * SUM({prev}.r // deg.d)) // 100)::BIGINT AS r "
            f"FROM e JOIN {prev} ON {prev}.node = e.src "
            f"JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        prev = f"r{i}"
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
               generate_subscripts(string_split(lower(text), ' '), 1) AS pos
        FROM documents) WHERE tok <> ''),
    bg AS (SELECT a.tok AS w1, b.tok AS w2, COUNT(*)::BIGINT AS c
           FROM toks a JOIN toks b
             ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
           WHERE a.tok <> b.tok
           GROUP BY 1, 2),
    und AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
            FROM bg WHERE c >= {TEXTRANK_MIN_COOC}),
    e AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
                       UNION ALL SELECT b AS src, a AS dst FROM und),
    deg AS MATERIALIZED (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY src),
    r0 AS MATERIALIZED (SELECT src AS node, {PR_INIT}::BIGINT AS r FROM deg),
    {", ".join(rounds)},
    ranked AS (SELECT node AS token, r AS rank_u6,
                      ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rk
               FROM {prev})
    SELECT token, rank_u6, rk::BIGINT AS rk FROM ranked WHERE rk <= {TEXTRANK_TOP}
    """


@query("textrank_keywords", _textrank_oracle())
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TEXTRANK_TOP} corpus keywords by TextRank: adjacent-token
    bigrams with ≥ {TEXTRANK_MIN_COOC} corpus occurrences form a
    symmetric co-occurrence graph (direction is irrelevant to
    centrality — and symmetry is also what satisfies page_rank's
    no-dangling contract by construction), ranked by the {PR_ITER}-
    iteration integer PageRank operator. One token scan builds the
    bigram counts (map-side partials); the graph is vocabulary-sized,
    so everything past the scan is index algebra. Exact-integer
    cross-engine (the supplier_customer_pagerank arithmetic verbatim)."""
    from ..operators.clusters import page_rank
    from ..operators.reshape import top_k

    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    bg = (
        toks.select(
            F.expr(
                "inline(CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2)) "
                "ELSE array() END)"
            )
        )
        .filter((F.col("w1") != "") & (F.col("w2") != "") & (F.col("w1") != F.col("w2")))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.col("c") >= TEXTRANK_MIN_COOC)
    )
    und = bg.select(
        F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
    ).distinct()
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = page_rank(edges, n_iter=PR_ITER, init_u6=PR_INIT)
    ranked = top_k(
        pr, [], [F.col("rank_u6").desc(), F.col("node")], TEXTRANK_TOP, "rk"
    )
    return ranked.select(
        F.col("node").alias("token"), "rank_u6",
        F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# LSH quality evaluation — recall of the PRODUCTION MinHash config
# (pre-exact-dedup + bucket cap) against exact n-gram-Jaccard ground
# truth over the same representative set, banded by similarity: the
# textbook S-curve measurement (recall must rise toward 1 as jaccard
# → 1; the 0.3-0.5 band is BELOW the banding threshold and low recall
# there is the designed behavior, not a bug). A curation pipeline
# runs exactly this report before trusting its dedup settings.
# ---------------------------------------------------------------------------


_RECALL_BANDS_ORACLE = f"""
    WITH {_minhash_pairs_ctes()},
    tsh AS (SELECT doc_id,
                   list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS th
            FROM sh),
    inv AS (SELECT doc_id, len(th) AS n, unnest(th) AS s FROM tsh),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                     COUNT(*) AS n_inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.n, b.n),
    truth AS (SELECT doc_a, doc_b,
                     ROUND(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) AS j
              FROM inter
              WHERE ROUND(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6)
                    >= {JACCARD_THRESHOLD}),
    fl AS (SELECT CAST(ROUND(t.j * 1000000) AS BIGINT) AS j_u6,
                  (CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS found
           FROM truth t
           LEFT JOIN (SELECT DISTINCT doc_a, doc_b FROM mh_pairs) mh
             ON mh.doc_a = t.doc_a AND mh.doc_b = t.doc_b),
    banded AS (SELECT (CASE WHEN j_u6 >= 900000 THEN '0.9+'
                            WHEN j_u6 >= 700000 THEN '0.7-0.9'
                            WHEN j_u6 >= 500000 THEN '0.5-0.7'
                            ELSE '0.3-0.5' END) AS band, found
               FROM fl),
    g AS (SELECT band, COUNT(*)::BIGINT AS n_truth,
                 SUM(found)::BIGINT AS n_found
          FROM banded GROUP BY band
          UNION ALL
          SELECT 'all', COUNT(*)::BIGINT, SUM(found)::BIGINT FROM banded)
    SELECT band, n_truth, n_found,
           ((n_found * 1000000) // n_truth)::BIGINT AS recall_u6
    FROM g
    """


@query("minhash_recall_bands", _RECALL_BANDS_ORACLE)
def q_minhash_recall_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall by similarity band: ground truth = exact n-gram
    Jaccard ≥ {JACCARD_THRESHOLD} over the exact-dup REPRESENTATIVE
    set (the same population the production LSH signs), found = truth
    pairs the banded+capped MinHash surfaced. recall_u6 rises toward
    10⁶ as jaccard → 1 (the S-curve contract); the sub-threshold
    0.3-0.5 band is allowed to miss. Ground truth costs one
    inverted-index intersection — this report is how a pipeline
    VALIDATES its dedup config on a sample before trusting it at
    100 TB (run it on a hash-sample there; here the fixture IS the
    sample)."""
    from ..operators.dedup import (
        exact_dup_representatives,
        minhash_candidates,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    reps = exact_dup_representatives(docs)
    truth = ngram_jaccard_pairs(reps, JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.expr("cast(round(jaccard * 1000000) as bigint)").alias("j_u6"),
    )
    cand = (
        minhash_candidates(docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    fl = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "j_u6", F.coalesce(F.col("_hit"), F.lit(0)).alias("found")
    )
    banded = fl.select(
        F.when(F.col("j_u6") >= 900000, "0.9+")
        .when(F.col("j_u6") >= 700000, "0.7-0.9")
        .when(F.col("j_u6") >= 500000, "0.5-0.7")
        .otherwise("0.3-0.5")
        .alias("band"),
        "found",
    )
    per_band = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum("found").cast("bigint").alias("n_found"),
    )
    overall = banded.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum("found").cast("bigint").alias("n_found"),
    ).select(F.lit("all").alias("band"), "n_truth", "n_found")
    return per_band.unionByName(overall).select(
        "band",
        "n_truth",
        "n_found",
        F.expr("cast((n_found * 1000000) div n_truth as bigint)").alias("recall_u6"),
    )


# ---------------------------------------------------------------------------
# Personalized PageRank — "customers who bought X also ended up around
# Y": random walk with restart from each seed part over the
# support-pruned co-purchase graph. The RECOMMENDATION member of the
# graph family (global PageRank = influence, PPR = affinity to a
# seed); association rules score direct pairs, PPR scores multi-hop
# affinity. Exact-integer, unrolled-CTE oracle.
# ---------------------------------------------------------------------------
PPR_SEEDS = 3
PPR_TOP = 10


def _ppr_oracle() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITER + 1):
        rounds.append(
            f"""sp{i} AS MATERIALIZED (
              SELECT r.seed, e.dst AS node,
                     ((85 * SUM(r.r // deg.d)) // 100)::BIGINT AS s
              FROM e JOIN {prev} r ON r.node = e.src
              JOIN deg ON deg.src = e.src GROUP BY r.seed, e.dst),
            r{i} AS MATERIALIZED (
              SELECT COALESCE(sp.seed, rs.seed) AS seed,
                     COALESCE(sp.node, rs.node) AS node,
                     (COALESCE(sp.s, 0) + COALESCE(rs.b, 0))::BIGINT AS r
              FROM sp{i} sp FULL OUTER JOIN restart rs
                ON rs.seed = sp.seed AND rs.node = sp.node)"""
        )
        prev = f"r{i}"
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
    deg AS MATERIALIZED (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY src),
    innodes AS (SELECT DISTINCT src AS node FROM e),
    seeds AS MATERIALIZED (
      SELECT pk AS seed FROM (
        SELECT op.pk, COUNT(*) AS c FROM op JOIN innodes ON innodes.node = op.pk
        GROUP BY op.pk ORDER BY c DESC, op.pk LIMIT {PPR_SEEDS})),
    restart AS (SELECT seed, seed AS node, {PR_BASE}::BIGINT AS b FROM seeds),
    r0 AS (SELECT seed, seed AS node, {PR_INIT}::BIGINT AS r FROM seeds),
    {", ".join(rounds)},
    ranked AS (SELECT seed, node, r AS rank_u6,
                      ROW_NUMBER() OVER (PARTITION BY seed
                                         ORDER BY r DESC, node) AS rk
               FROM {prev} WHERE node <> seed)
    SELECT seed, node AS related_part, rank_u6, rk::BIGINT AS rk
    FROM ranked WHERE rk <= {PPR_TOP}
    """


@query("related_parts_ppr", _ppr_oracle())
def q_related_parts_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PPR_TOP} related parts for each of the {PPR_SEEDS}
    highest-support parts, by {PR_ITER}-hop personalized PageRank over
    the support-pruned co-purchase graph (operators/clusters.py::
    personalized_page_rank — restart mass returns to the seed, so
    scores measure affinity TO that seed; the rank frontier stays
    within {PR_ITER} hops of the seeds, not |seeds|×|V|). Seeds are
    restricted to parts present in the pruned graph. Exact-integer,
    hash-matched against the unrolled per-seed CTE oracle."""
    from ..operators.clusters import personalized_page_rank
    from ..operators.reshape import top_k

    und = copurchase_pairs(spark, sf_dir)
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    # the 3-row seed frame seeds BOTH the rank vector and the restart
    # term of every iteration — materialize it so the support-count
    # pipeline is not re-planned per round (the returned plan carries
    # zero raw scans, pinned in tests)
    seeds = (
        copurchase_seeds(spark, sf_dir, und)
        .select(F.col("node").alias("seed"))
        .transform(materialize, eager=True)
    )
    pr = personalized_page_rank(edges, seeds, n_iter=PR_ITER)
    ranked = top_k(
        pr.filter(F.col("node") != F.col("seed")),
        ["seed"],
        [F.col("rank_u6").desc(), F.col("node")],
        PPR_TOP,
        "rk",
    )
    return ranked.select(
        "seed",
        F.col("node").alias("related_part"),
        "rank_u6",
        F.col("rk").cast("bigint").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Embedding-centroid drift — the SEMANTIC member of the drift family
# (user_value_drift_psi / user_value_drift_ks / windowed_drift_psi
# watch scalar distributions; this watches where each label's
# embedding mass SITS): per label, the squared L2 distance between
# the two cohorts' centroids. Elements quantize to exact int64
# micro-units BEFORE summing, so the centroid sums are
# order-independent integers and the whole report hash-matches with
# no sorted-fold gymnastics (the float-SUM trap from the verify
# gotchas, sidestepped instead of worked around).
# ---------------------------------------------------------------------------


_CENTROID_DRIFT_ORACLE = f"""
    WITH q AS (
      SELECT label,
             ({sql_hash_bucket("vec_id", salt="cdrift")} < 50) AS in_a,
             generate_subscripts(embedding, 1) AS dim,
             CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0) AS BIGINT) AS v_u6
      FROM embeddings),
    s AS (SELECT label, dim,
                 SUM(CASE WHEN in_a THEN v_u6 ELSE 0 END)::BIGINT AS sa,
                 SUM(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS na,
                 SUM(CASE WHEN NOT in_a THEN v_u6 ELSE 0 END)::BIGINT AS sb,
                 SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END)::BIGINT AS nb
          FROM q GROUP BY label, dim),
    d AS (SELECT label, na, nb,
                 ((sa // na) - (sb // nb)) AS dd
          FROM s WHERE na > 0 AND nb > 0)
    SELECT label, MIN(na)::BIGINT AS n_a, MIN(nb)::BIGINT AS n_b,
           SUM(dd * dd)::BIGINT AS l2sq_u12
    FROM d GROUP BY label
    """


@query("embedding_centroid_drift", _CENTROID_DRIFT_ORACLE)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label squared L2 distance between the centroids of two
    stable hash cohorts of the embedding corpus (A = vec_id bucket
    < 50) — the drift monitor for a re-embedded or re-crawled corpus:
    a jump in l2sq_u12 for a label means its semantic mass moved.
    One explode pass (vec, dim, micro-unit value), one (label, dim)
    sum — integer partial aggregates all the way; centroids are
    floor-averages (sum div n), distance is Σ(Δdim)², both
    engine-exact. At 100 TB this is the map-side-combine shape: the
    shuffle carries |labels|·|dims| integer triples, never vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.sampling import hash_bucket

    q = emb.select(
        "label",
        (hash_bucket("vec_id", 100, salt="cdrift") < 50).alias("in_a"),
        F.expr(
            "inline(transform(embedding, (x, i) -> "
            "struct(i + 1 as dim, cast(floor(cast(x as double) * 1000000.0) as bigint) as v_u6)))"
        ),
    )
    s = q.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("in_a"), F.col("v_u6")).otherwise(0)).cast("bigint").alias("sa"),
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("in_a"), F.col("v_u6")).otherwise(0)).cast("bigint").alias("sb"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0)).cast("bigint").alias("nb"),
    )
    d = s.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "label", "na", "nb",
        F.expr("(sa div na) - (sb div nb)").alias("dd"),
    )
    return d.groupBy("label").agg(
        F.min("na").cast("bigint").alias("n_a"),
        F.min("nb").cast("bigint").alias("n_b"),
        F.sum(F.expr("dd * dd")).cast("bigint").alias("l2sq_u12"),
    )


# ---------------------------------------------------------------------------
# Mixture budgeting — integer WATERFILL of a total token budget across
# sources: every source keeps its tokens up to a common cap c chosen
# so allocations sum to (at most) the budget; small sources pass
# through whole, big sources are capped at the level. The planning
# step of data mixing (corpus_temperature_sample then EXECUTES a
# mixture at row level; this decides the per-source budgets). Exact
# integer algorithm: rank sources by token count ascending, find the
# first rank r where prefix_{r-1} + t_r·(n−r+1) ≥ B, then
# c = (B − prefix_{r-1}) div (n−r+1) with the remainder spread one
# token each to the first `rem` capped sources in rank order — fully
# window/prefix-sum expressible, no iteration, engine-exact.
# ---------------------------------------------------------------------------
WATERFILL_BUDGET_PCT = 60  # budget = 60% of total corpus tokens


_WATERFILL_ORACLE = f"""
    WITH t0 AS (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
                FROM documents),
    ts AS (SELECT source, COUNT(*)::BIGINT AS t
           FROM t0 WHERE tok <> '' GROUP BY source),
    tot AS (SELECT SUM(t)::BIGINT AS total,
                   ((SUM(t) * {WATERFILL_BUDGET_PCT}) // 100)::BIGINT AS b,
                   COUNT(*)::BIGINT AS n
            FROM ts),
    rk AS (SELECT source, t,
                  ROW_NUMBER() OVER (ORDER BY t, source) AS r,
                  COALESCE(SUM(t) OVER (ORDER BY t, source
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0)::BIGINT AS prefix
           FROM ts),
    pick AS (SELECT MIN(rk.r) AS r0 FROM rk CROSS JOIN tot
             WHERE rk.prefix + rk.t * (tot.n - rk.r + 1) >= tot.b),
    lvl AS (SELECT CASE WHEN pick.r0 IS NULL THEN NULL
                        ELSE (tot.b - rk.prefix) // (tot.n - rk.r + 1) END AS c,
                   CASE WHEN pick.r0 IS NULL THEN 0
                        ELSE (tot.b - rk.prefix) % (tot.n - rk.r + 1) END AS rem,
                   pick.r0 AS r0
            FROM pick LEFT JOIN rk ON rk.r = pick.r0 CROSS JOIN tot)
    SELECT rk.source, rk.t AS tokens,
           (CASE WHEN lvl.r0 IS NULL OR rk.r < lvl.r0 THEN rk.t
                 ELSE LEAST(rk.t, lvl.c
                            + (CASE WHEN rk.r - lvl.r0 < lvl.rem
                                    THEN 1 ELSE 0 END)) END)::BIGINT
             AS alloc,
           (CASE WHEN lvl.r0 IS NOT NULL AND rk.r >= lvl.r0
                 THEN 1 ELSE 0 END)::BIGINT AS capped
    FROM rk CROSS JOIN lvl
    """


@query("source_token_waterfill", _WATERFILL_ORACLE)
def q_source_token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token allocation under a {WATERFILL_BUDGET_PCT}%-of-
    corpus budget by integer waterfill: sources below the water level
    keep everything, sources above are capped at the common level,
    remainder tokens spread one-each in rank order — the deterministic
    budget plan a mixture sampler then executes. One token-count agg
    (map-side partials), one |sources|-row window pass, two broadcast
    scalars; everything past the scan is index-sized. Engine-exact
    (pure integer div/mod; pure-Python waterfill reference in
    pytest)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select(
        "source",
        F.expr(
            "size(filter(split(lower(text), ' '), x -> x <> ''))"
        ).alias("_nt"),
    )
    ts = tok.groupBy("source").agg(F.sum("_nt").cast("bigint").alias("t"))
    tot = ts.agg(
        F.sum("t").cast("bigint").alias("total"),
        F.expr(f"cast((sum(t) * {WATERFILL_BUDGET_PCT}) div 100 as bigint)").alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("t", "source")
    rk = ts.select(
        "source",
        "t",
        F.row_number().over(w).alias("r"),
        F.coalesce(
            F.sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        )
        .cast("bigint")
        .alias("prefix"),
    ).crossJoin(F.broadcast(tot))
    pick = rk.filter(
        F.expr("prefix + t * (n - r + 1) >= b")
    ).agg(F.min("r").alias("r0"))
    lvl = (
        F.broadcast(pick)
        .join(rk.withColumnRenamed("r", "_r"), F.expr("_r = r0"), "left")
        .select(
            "r0",
            F.expr(
                "case when r0 is null then null else (b - prefix) div (n - r0 + 1) end"
            ).alias("c"),
            F.expr(
                "case when r0 is null then 0 else (b - prefix) % (n - r0 + 1) end"
            ).alias("rem"),
        )
    )
    return rk.crossJoin(F.broadcast(lvl)).select(
        "source",
        F.col("t").alias("tokens"),
        F.expr(
            "cast(case when r0 is null or r < r0 then t "
            "else least(t, c + (case when r - r0 < rem then 1 else 0 end)) end as bigint)"
        ).alias("alloc"),
        F.expr(
            "cast(case when r0 is not null and r >= r0 then 1 else 0 end as bigint)"
        ).alias("capped"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities — the dual-score graph member: PageRank
# (supplier_customer_pagerank) collapses the supplier↔customer graph
# into ONE symmetrized influence score; HITS keeps the direction and
# scores both SIDES of the bipartite relation at once — hub quality
# of suppliers ("supplies the well-connected customers") and
# authority of customers ("buys from the well-connected suppliers").
# All-integer fixed-point (operators/clusters.py::hits_scores), so
# the oracle unrolls the rounds as MATERIALIZED CTEs and
# hash-matches with zero tolerance — the page_rank convention.
# ---------------------------------------------------------------------------
HITS_ITER = 2
HITS_TOP = 15


def _hits_oracle() -> str:
    rounds = []
    prev = "h0"
    for i in range(1, HITS_ITER + 1):
        rounds.append(
            f"a{i} AS MATERIALIZED (SELECT raw.dst AS node, "
            f"SUM({prev}.s)::BIGINT AS s FROM raw "
            f"JOIN {prev} ON {prev}.node = raw.src GROUP BY raw.dst)"
        )
        rounds.append(
            f"h{i} AS MATERIALIZED (SELECT raw.src AS node, "
            f"SUM(a{i}.s)::BIGINT AS s FROM raw "
            f"JOIN a{i} ON a{i}.node = raw.dst GROUP BY raw.src)"
        )
        prev = f"h{i}"
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
             'C' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h0 AS (SELECT DISTINCT src AS node, 1::BIGINT AS s FROM raw),
    {", ".join(rounds)},
    ra AS (SELECT node, s, ROW_NUMBER() OVER (ORDER BY s DESC, node) AS rk
           FROM a{HITS_ITER}),
    rh AS (SELECT node, s, ROW_NUMBER() OVER (ORDER BY s DESC, node) AS rk
           FROM h{HITS_ITER})
    SELECT 'authority' AS role, node, s AS score, rk::BIGINT AS rk
    FROM ra WHERE rk <= {HITS_TOP}
    UNION ALL
    SELECT 'hub' AS role, node, s AS score, rk::BIGINT AS rk
    FROM rh WHERE rk <= {HITS_TOP}
    """


@query("supplier_customer_hits", _hits_oracle())
def q_supplier_customer_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HITS_TOP} hubs (suppliers) and authorities (customers) of
    the DIRECTED supplier→customer graph by {HITS_ITER}-round integer
    HITS. The distinct edge list (lineitem⋈orders) materializes once;
    each round is two join+agg shuffles with per-round-flat lineage
    (operators/clusters.py::hits_scores — see its docstring for the
    no-normalization exactness argument and int64 magnitude bound).
    The oracle unrolls the rounds as MATERIALIZED CTEs; scores are
    pure int64 sums, hash-matched with zero tolerance."""
    from ..operators.clusters import hits_scores
    from ..operators.reshape import top_k

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    auth, hubs = hits_scores(edges, n_iter=HITS_ITER)
    ra = top_k(auth, [], [F.col("score").desc(), F.col("node")], HITS_TOP, "rk")
    rh = top_k(hubs, [], [F.col("score").desc(), F.col("node")], HITS_TOP, "rk")
    return (
        ra.select(F.lit("authority").alias("role"), "node", "score", "rk")
        .unionByName(
            rh.select(F.lit("hub").alias("role"), "node", "score", "rk")
        )
        .select("role", "node", "score", F.col("rk").cast("bigint").alias("rk"))
    )


