"""Plan-shape contracts: the properties that make these queries hold
at 100 TB, asserted at fixture scale. A change that silently turns a
broadcast join into a sort-merge join, or un-pushes a filter, fails
here."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from .conftest import SF_SMOKE


def _q(name):
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    return QUERIES[name]


def test_dim_joins_broadcast_never_shuffle(spark):
    """Every small-dimension lookup must be a broadcast hash join —
    the fact side must not shuffle for a join."""
    from hubsit_health_analytics_etl_spark.plans.explain import assert_plan

    for name in [
        "revenue_by_region_nation",
        "revenue_splits_by_nation",
        "lookup_join_normalized",
        "segment_status_pivot",
    ]:
        assert_plan(_q(name)(spark, SF_SMOKE), broadcast_join=True, no_shuffle_join=True)


def test_scan_pruning_and_pushdown(spark):
    """Filters reach the parquet scan; unused fat columns are pruned."""
    from hubsit_health_analytics_etl_spark.plans.explain import (
        assert_plan,
        physical_plan,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    q = orders.filter(F.col("o_orderstatus") == "F").groupBy("o_orderpriority").count()
    assert_plan(
        q,
        pushed_filter_substr="o_orderstatus",
        read_schema_excludes=["o_totalprice", "o_custkey"],
    )
    # daily_status only needs two orders columns
    p = physical_plan(_q("daily_status")(spark, SF_SMOKE))
    assert "o_custkey" not in p.split("ReadSchema")[1].splitlines()[0]


def test_single_shuffle_aggregations(spark):
    """Scan→agg queries shuffle exactly once (partial/final agg split);
    the grouping-sets profile does all dims in ONE pass."""
    from hubsit_health_analytics_etl_spark.plans.explain import count_exchanges

    assert count_exchanges(_q("lineitem_pricing_summary")(spark, SF_SMOKE)) == 1
    assert count_exchanges(_q("daily_status")(spark, SF_SMOKE)) == 1
    # grouping sets: Expand + single aggregate exchange (+1 AQE output
    # coalesce allowed)
    assert count_exchanges(_q("profile_dimensions")(spark, SF_SMOKE)) <= 2


def test_partial_aggregation_before_shuffle(spark):
    """The sum(when) kernel must split map-side: a partial
    HashAggregate appears below the Exchange."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("daily_status")(spark, SF_SMOKE))
    # formatted plan lists partial_ functions in the pre-shuffle agg
    assert "partial_" in p.lower() or "HashAggregate" in p


def test_global_topk_avoids_full_sort(spark):
    """Global top-k must plan TakeOrderedAndProject, not a total sort."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.operators.reshape import top_k
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("receita"))
    ranked = top_k(rev, [], [F.col("receita").desc(), F.col("o_custkey")], 10)
    assert "TakeOrderedAndProject" in physical_plan(ranked)


def test_anti_join_is_broadcast(spark):
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("customers_without_orders")(spark, SF_SMOKE))
    assert "BroadcastHashJoin LeftAnti" in p.replace("  ", " ") or (
        "LeftAnti" in p and "Broadcast" in p
    )


@pytest.mark.parametrize(
    "name",
    [
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "ngram_containment_pairs",
        "containment_new_batch",
        "winnow_candidate_pairs",
        "simhash_candidate_pairs",
        "dedup_new_batch",
        "semantic_dedup_keep",
        "semantic_decontamination",
        "ann_two_stage_rerank",
        "ann_two_stage_rerank_udf",
        "embedding_pq_codes",
        # ann_pq_adc_topk is deliberately the brute-force shape
        # (broadcast tiny query set, non-equi join over the CODES) —
        # exempt like brute_force_topk itself; ann_ivfpq_topk is exempt
        # like its IVF siblings (the broadcast-centroid cross in
        # _ranked_cells is the sanctioned ≤C-row scoring shape — its
        # candidate join is a BroadcastHashJoin on cell)
        "corpus_vocabulary",
        "corpus_temperature_sample",
        "near_dup_source_matrix",
    ],
)
def test_dedup_never_plans_cartesian(spark, name):
    """LSH/inverted-index dedup must never degrade to a cartesian or
    broadcast-nested-loop pair explosion."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q(name)(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ann_lsh_plans_equi_join_only(spark):
    """Sign-LSH ANN: the bucket join must plan as an equi-join (hash);
    no nested-loop anywhere — bucketing is map-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("ann_lsh_topk")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


@pytest.mark.parametrize(
    "name",
    ["ann_ivf_topk", "ann_ivf_nprobe_topk", "ann_incremental_topk", "ann_forget_topk"],
)
def test_ann_ivf_cell_search_is_equi_join(spark, name):
    """IVF ANN: the centroid ASSIGNMENT is a deliberate cross join
    against the tiny broadcast centroid table (C rows — bounded); the
    cell SEARCH join itself must be a hash equi-join on the cell id,
    and nothing may plan a CartesianProduct (unbounded both sides)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q(name)(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # the cell-search equi-join
    # any nested-loop must be the broadcast-centroid cross join, which
    # always declares Cross BuildRight (the detail section repeats the
    # node name with an empty remainder — skip those)
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross BuildRight")


def test_ann_bruteforce_corpus_never_shuffles(spark):
    """Brute force is intentionally a broadcast nested loop (non-equi
    self-exclusion join over a SMALL broadcast query set) — but the
    corpus side must stream map-only: no Exchange may sit between the
    corpus scan and the join."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("ann_bruteforce_topk")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in p  # the documented, chosen shape
    # every Exchange in the plan feeds either the broadcast (query side)
    # or the post-join top-k — none may be a corpus repartition between
    # scan and join. The corpus enters via spread (round-robin), so
    # the join's streaming child must be that RoundRobin exchange
    # directly, with no hash partitioning of the corpus.
    streaming_side = p.split("BroadcastNestedLoopJoin")[0]
    assert "hashpartitioning" not in streaming_side.lower()


def test_embedding_nn_dedup_blocked_join_not_cartesian(spark):
    """Embedding near-dup dedup joins on the block key — the plan must
    be an equi-join on the block, never an all-pairs expansion."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("embedding_nn_dedup")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_nn_dedup_block_key_cardinality_scales(spark):
    """The dedup block key must be able to scale with the corpus —
    unlike `label` (fixed ~10 values → linear block growth → quadratic
    pairs). The sign-LSH bucket doubles per plane: the shipped 6-plane
    config must out-fan the label blocking, and adding planes must
    keep increasing the fan-out (the knob that holds block size
    constant as N grows)."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_expr,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w03_similarity_multimodal import (
        NN_DEDUP_PLANES,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def n_blocks(col):
        return emb.select(col.alias("b")).distinct().count()

    n_labels = n_blocks(F.col("label"))
    n_shipped = n_blocks(lsh_bucket_expr("embedding", _hyperplanes(NN_DEDUP_PLANES)))
    n_more = n_blocks(lsh_bucket_expr("embedding", _hyperplanes(NN_DEDUP_PLANES + 2)))
    assert n_labels < n_shipped < n_more


def test_market_share_dims_broadcast_and_single_agg_pass(spark):
    """Q8 shape: all dimensions broadcast (the fact shuffles only for
    the orderkey join + year agg), and the share ratio is computed in
    ONE aggregate pass — no second scan or self-join of the fact."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("market_share")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the conditional sum shares one aggregate pass: lineitem scanned once
    assert p.lower().count("lineitem.parquet") == 1


def test_returned_item_report_pushdown_and_topk(spark):
    """Q10 shape: returnflag reaches the lineitem scan, the date range
    reaches the orders scan, and the top-20 is TakeOrderedAndProject
    (bounded per-partition heaps), never a global Sort."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("returned_item_report")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters: ")[1:]]
    assert any("l_returnflag" in s for s in pushed)
    assert any("o_orderdate" in s for s in pushed)


def test_range_join_plans_equi_join_not_nested_loop(spark):
    """The whole point of the bucketized range join: the naive
    inequality join plans a BroadcastNestedLoopJoin; ours must be a
    hash/sort-merge equi-join on the bucket key."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("range_join_surges")(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_corpus_keep_list_is_map_only(spark):
    """The heuristic filter must run inside the scan stage: no
    Exchange anywhere (annotation + filter are pure projections)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("corpus_keep_list")(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[-1]
    # spread's round-robin fan-out is the only allowed exchange
    n_ex = body.count("Exchange") 
    n_rr = body.count("REPARTITION_BY_NUM") + body.lower().count("roundrobin")
    assert n_ex <= n_rr, p


def test_corpus_composition_single_shuffle(spark):
    from hubsit_health_analytics_etl_spark.plans.explain import count_exchanges

    # one aggregate exchange (+1 allowed for spread's round-robin)
    assert count_exchanges(_q("corpus_composition")(spark, SF_SMOKE)) <= 2


def test_salted_priority_join_no_single_reducer_hot_key(spark):
    """The salted join must plan an equi-join on (key, salt) — hash or
    broadcast — never a plain nested loop; the aggregate splits
    partials map-side."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("salted_priority_join")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_corpus_dedup_pipeline_no_cartesian_and_bounded_joins(spark):
    """The composite pipeline (LSH pairs -> components -> keep-list)
    must stay equi-join-only end to end: the iterative component step
    runs on localCheckpointed frames, and the final decision frame
    joins only on node/component ids — never a pair explosion."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("corpus_dedup_pipeline")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_corpus_curation_pipeline_no_cartesian_and_bounded_joins(spark):
    """The full curation composite (quality x decon x dedup x split)
    must stay equi-join-only end to end — the decon gram probe, the
    LSH bucket joins, and the per-doc flag joins are all key joins."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("corpus_curation_pipeline")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_index_partitioned_by_cell_prunes(spark):
    """The persisted IVF assignments are written partitionBy("cell");
    the batch search must plan DYNAMIC PARTITION PRUNING on the cell
    join — at scale a small batch then reads only its probed cells'
    directories, not the whole index. Both index builds read the index
    back with the schema they wrote; ``cell`` must still arrive as a
    discovered partition column, or the pruning filter has nothing to
    prune."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    for name in ("ann_incremental_topk", "ann_forget_topk"):
        p = physical_plan(_q(name)(spark, SF_SMOKE))
        scans = [
            seg for seg in p.split("Scan parquet")
            if "assignments" in seg.split("ReadSchema")[0]
        ]
        assert scans, (name, p)
        assert any(
            "dynamicpruning" in s.split("ReadSchema")[0].lower() for s in scans
        ), (name, p)


def test_scale_params_hold_bucket_size_constant():
    """The derivation rules must keep per-bucket/per-cell work bounded
    as N grows across nine orders of magnitude: expected sign-LSH
    bucket size stays in (target/2, target], cells track 4*sqrt(N),
    and the cap reproduces the shipped constants' pair budget."""
    from hubsit_health_analytics_etl_spark.operators.scaleparams import (
        TARGET_LSH_BUCKET,
        bucket_cap_for,
        derive_scale_params,
        lsh_planes_for,
    )

    prev_planes = 0
    for exp in range(3, 13):
        n = 10 ** exp
        p = derive_scale_params(n)
        expected_bucket = n / 2 ** p["n_planes"]
        assert TARGET_LSH_BUCKET / 2 < expected_bucket <= TARGET_LSH_BUCKET
        assert p["n_planes"] >= prev_planes  # monotone in N
        prev_planes = p["n_planes"]
        assert abs(p["n_cells"] - 4 * n ** 0.5) <= 1
    assert bucket_cap_for() == 32  # the shipped MINHASH_BUCKET_CAP
    assert lsh_planes_for(10) == 1  # tiny corpora degrade gracefully


def test_derived_planes_fan_out_on_real_embeddings(spark):
    """Generalized block-key-cardinality check: instantiating the
    DERIVED plane counts for growing (hypothetical) corpus sizes must
    keep increasing the real fan-out on the fixture embeddings — the
    knob that holds block size constant actually moves the blocking."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.scaleparams import (
        lsh_planes_for,
    )
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_expr,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def n_blocks(n_planes):
        col = lsh_bucket_expr("embedding", _hyperplanes(n_planes))
        return emb.select(col.alias("b")).distinct().count()

    sizes = [10 ** 3, 10 ** 5, 10 ** 7]
    planes = [lsh_planes_for(n) for n in sizes]
    assert planes == sorted(planes) and len(set(planes)) == 3
    fanouts = [n_blocks(p) for p in planes]
    assert fanouts == sorted(fanouts) and fanouts[0] < fanouts[-1]


def test_production_constants_are_helper_derived():
    """The shipped workload knobs must COME FROM the scaleparams rules
    (evaluated at the documented fixture estimates), not free-floating
    literals — so a production caller changing only ``n_rows`` gets
    consistently re-derived knobs."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        MINHASH_BUCKET_CAP,
    )
    from hubsit_health_analytics_etl_spark.operators.scaleparams import (
        bucket_cap_for,
        lsh_planes_for,
    )
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        FIXTURE_EMBED_ROWS,
        N_PLANES,
        TARGET_ANN_BUCKET,
    )

    assert MINHASH_BUCKET_CAP == bucket_cap_for() == 32
    assert N_PLANES == lsh_planes_for(FIXTURE_EMBED_ROWS, TARGET_ANN_BUCKET) == 4


def test_pq_codewords_rule_degrades_and_saturates():
    """pq_codewords_for: 8-bit codes (256) once the corpus can train
    them, bounded by FAISS's >=39 train points per codeword below
    that, floor of 2 for tiny corpora — and pq_codebooks_kmeans(k=None)
    consumes this rule."""
    from hubsit_health_analytics_etl_spark.operators.scaleparams import (
        pq_codewords_for,
    )

    assert pq_codewords_for(5) == 2
    assert pq_codewords_for(500) == 12
    assert pq_codewords_for(256 * 39) == 256
    assert pq_codewords_for(10**12) == 256  # saturates: code width is fixed
    sizes = [10**e for e in range(1, 9)]
    ks = [pq_codewords_for(n) for n in sizes]
    assert ks == sorted(ks)  # monotone in corpus size


def test_lsh_bucket_expr_derives_planes_from_n_rows(spark):
    """lsh_bucket_expr(n_rows=...) must re-derive the plane count: a
    corpus-size estimate 2000x the fixture yields log2-more planes and
    therefore strictly finer bucketing on the same vectors."""
    import pyspark.sql.functions as F  # noqa: F401

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        lsh_bucket_expr,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    fixture = emb.select(lsh_bucket_expr("embedding").alias("b")).distinct().count()
    scaled = (
        emb.select(lsh_bucket_expr("embedding", n_rows=10**6).alias("b"))
        .distinct()
        .count()
    )
    assert scaled > fixture


def test_kmeans_cells_derive_from_corpus_size(spark):
    """kmeans_centroids with n_cells=None must size the quantizer from
    the corpus row count via ivf_cells_for (4·sqrt(N))."""
    from hubsit_health_analytics_etl_spark.operators.scaleparams import (
        ivf_cells_for,
    )
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        kmeans_centroids,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_centroids(emb, max_iter=1)
    assert cents.count() == ivf_cells_for(emb.count())


@pytest.mark.parametrize("name", ["doc_repetition", "pii_scrub"])
def test_curation_filters_are_map_only(spark, name):
    """Repetition + PII scrub must run inside the scan stage: the only
    allowed exchange is spread's round-robin fan-out."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q(name)(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[-1]
    n_ex = body.count("Exchange")
    n_rr = body.count("REPARTITION_BY_NUM") + body.lower().count("roundrobin")
    assert n_ex <= n_rr, p


def test_large_orders_aggregated_semi_join_shape(spark):
    """Q18 shape: the HAVING-gated aggregate feeds the join (no second
    lineitem pass), and the top-100 plans TakeOrderedAndProject."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("large_orders")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert p.lower().count("lineitem.parquet") == 1


def test_supplier_breadth_pushdown_and_distinct_split(spark):
    """Q16 shape: the brand/type exclusions reach the part scan, the
    dim broadcasts, and COUNT(DISTINCT) splits partial (Expand +
    two-phase aggregate) instead of collecting pairs on one reducer."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("supplier_breadth")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters: ")[1:]]
    assert any("p_brand" in s and "p_type" in s for s in pushed)
    assert "Expand" in p or "partial_count(distinct" in p.lower()


def test_dormant_rich_customers_anti_join_and_date_pushdown(spark):
    """Q22 shape: the recency anti-join is a broadcast LeftAnti, the
    cutoff reaches the orders scan, and the scalar average enters via
    a broadcast one-row join, never a per-row subquery."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("dormant_rich_customers")(spark, SF_SMOKE))
    assert "LeftAnti" in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters: ")[1:]]
    assert any("o_orderdate" in s for s in pushed)
    assert "CartesianProduct" not in p


def test_embedding_quantize_map_only_and_pack_single_shuffle(spark):
    """Quantization must run inside the scan stage (no exchange beyond
    spread's fan-out); packing shuffles ONCE on the shard key for its
    windowed cumsum — never a global total order."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("embedding_quantize")(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[-1]
    assert body.count("Exchange") <= body.count("REPARTITION_BY_NUM") + body.lower().count("roundrobin")

    p = physical_plan(_q("token_pack_bins")(spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[-1]
    # one hashpartitioning exchange (the shard window) + optional fan-out
    assert body.lower().count("hashpartitioning") <= 1
    assert "rangepartitioning" not in body.lower()  # no global sort


def test_document_chunks_udtf_single_python_stage_pruned_input(spark):
    """The UDTF chunking twin: exactly one ArrowEvalPythonUDTF stage
    (the fifth Python-eval surface), the parquet scan column-pruned to
    (doc_id, text) BEFORE the Python boundary, and the native
    document_chunks twin stays entirely JVM-side — the two
    implementations of one oracle differ only in eval engine."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("document_chunks_udtf")(spark, SF_SMOKE))
    assert p.count("ArrowEvalPythonUDTF (") == 1
    assert "BatchEvalPython" not in p  # Arrow, never row-at-a-time
    # column pruning reached the scan: only the two consumed columns
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "doc_id" in rs[0] and "text" in rs[0] and "lang" not in rs[0]

    p0 = physical_plan(_q("document_chunks")(spark, SF_SMOKE))
    assert "EvalPython" not in p0


def test_rerank_udf_python_stage_bounded_to_candidates(spark):
    """The Arrow pandas-UDF model hook in the two-stage rerank must run
    strictly AFTER the stage-1 candidate cut: exactly one Python stage
    in the plan, and the number of rows crossing the JVM->Python
    boundary is bounded by RERANK_CANDIDATES x |queries| (counted with
    an accumulator inside an instrumented scorer) — never the corpus
    pair space."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_QUERY_LIMIT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w08_ann_composites import (
        RERANK_CANDIDATES,
        _two_stage_rerank,
    )

    # production query: exactly one Arrow-batched Python stage
    p = physical_plan(_q("ann_two_stage_rerank_udf")(spark, SF_SMOKE))
    # formatted plans repeat each node in the detail section — count
    # tree entries ("ArrowEvalPython (<id>)") for the real node count
    assert p.count("ArrowEvalPython (") == 1
    # the SQL-expression twin stays entirely JVM-side
    p0 = physical_plan(_q("ann_two_stage_rerank")(spark, SF_SMOKE))
    assert "EvalPython" not in p0

    rows_seen = spark.sparkContext.accumulator(0)

    def counting_scorer(cand):
        import hashlib

        @F.pandas_udf("double")
        def _score(query_id: pd.Series, neighbor_id: pd.Series) -> pd.Series:
            rows_seen.add(len(query_id))
            keys = (
                query_id.astype("int64").astype(str)
                + ":"
                + neighbor_id.astype("int64").astype(str)
            )
            return keys.map(
                lambda k: int(hashlib.md5(k.encode()).hexdigest()[:8], 16)
                / 4294967296.0
            )

        return _score(cand.query_id, cand.neighbor_id)

    out = _two_stage_rerank(spark, SF_SMOKE, counting_scorer)
    out.write.format("noop").mode("overwrite").save()
    n_queries = (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < ANN_QUERY_LIMIT)
        .count()
    )
    assert 0 < rows_seen.value <= RERANK_CANDIDATES * n_queries


def test_lookup_precomputed_plan_has_no_regex_and_is_faster_shape(spark):
    """lookup_join_precomputed must prove the write-time key
    materialization: the query-time plan contains NO normalization
    expression (regexp_replace / translate vanish — they run once at
    write time), joins broadcast, and the fact scan reads the bucketed
    table. The normalized twin DOES carry the regex at query time —
    that contrast is the point."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("lookup_join_precomputed")(spark, SF_SMOKE))
    assert "regexp_replace" not in p
    assert "translate" not in p
    assert "BroadcastHashJoin" in p
    assert "lookup_fact_precomp" in p  # reads the persisted bucketed table
    p0 = physical_plan(_q("lookup_join_normalized")(spark, SF_SMOKE))
    assert "regexp_replace" in p0


def test_scd2_and_shard_plan_single_shuffle(spark):
    """scd2_priority_history: lag, running-sum island id, per-island
    groupBy and valid_to lead are all keyed by (a superset of)
    o_custkey, so ONE hash exchange serves the whole SCD2 build.
    training_shard_plan: one exchange on the shard key — per-shard
    rank windows, never a single-partition global sort."""
    from hubsit_health_analytics_etl_spark.plans.explain import count_exchanges

    assert count_exchanges(_q("scd2_priority_history")(spark, SF_SMOKE)) == 1
    assert count_exchanges(_q("training_shard_plan")(spark, SF_SMOKE)) == 1


def test_bpe_pair_counts_distributed_topk(spark):
    """BPE pair top-K must plan TakeOrderedAndProject (per-partition
    top-K + merge), not a global-rank window over the full pair
    vocabulary."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("bpe_pair_counts")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p


def test_session_transcripts_single_shuffle(spark):
    """Sessionization windows, per-session groupBy and the in-array
    ordering all ride ONE user_id exchange — the transcript sort
    happens inside each collected array, never as a global sort."""
    from hubsit_health_analytics_etl_spark.plans.explain import count_exchanges

    assert count_exchanges(_q("session_transcripts")(spark, SF_SMOKE)) == 1


def test_merge_upsert_equi_full_outer(spark):
    """MERGE must plan a plain equi FullOuter — no cartesian / nested
    loop, ever (the 100 TB nightly-upsert contract)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("orders_merge_upsert")(spark, SF_SMOKE))
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_vocab_new_batch_merge_is_batch_proportional_shape(spark):
    """The incremental vocab merge must be a union + ONE re-aggregate
    (plus the index read): no join at all in the merge path, and the
    top-K still plans TakeOrderedAndProject."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("vocab_new_batch")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_quota_and_weighted_sample_plan_shapes(spark):
    """stratified_quota_sample: one exchange (per-stratum rank
    windows) AND WindowGroupLimit — Spark's partial per-group top-k
    drops non-quota rows BEFORE the shuffle, so a 100 TB stratum
    ships ~K rows per map task, not the stratum.
    weighted_sample_topk: the A-RES winners come from
    TakeOrderedAndProject, never a global sort of the corpus."""
    from hubsit_health_analytics_etl_spark.plans.explain import (
        count_exchanges,
        physical_plan,
    )

    q = _q("stratified_quota_sample")(spark, SF_SMOKE)
    assert count_exchanges(q) == 1
    assert "WindowGroupLimit" in physical_plan(q)
    assert "WindowGroupLimit" in physical_plan(
        _q("doc_tfidf_top_terms")(spark, SF_SMOKE)
    )
    p = physical_plan(_q("weighted_sample_topk")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p


def test_tfidf_join_is_equi_and_count_is_broadcast(spark):
    """The tf⋈df join must be an equi-join on token; the only
    nested-loop allowed is the sanctioned broadcast one-row corpus
    count."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("doc_tfidf_top_terms")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross BuildRight")


def test_grouped_pandas_agg_plans_arrow_aggregate(spark):
    """priority_median_pandas_agg must run its two pandas UDFs in ONE
    ArrowAggregatePython stage (grouped Arrow eval), with the keyed
    shuffle below it — no row-at-a-time BatchEvalPython anywhere."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("priority_median_pandas_agg")(spark, SF_SMOKE))
    assert p.count("ArrowAggregatePython") >= 1
    assert "BatchEvalPython" not in p


def test_cogroup_ks_single_arrow_stage(spark):
    """user_value_drift_ks: exactly one co-grouped Arrow stage; each
    side shuffles once on user_id; no row-at-a-time Python."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("user_value_drift_ks")(spark, SF_SMOKE))
    # formatted plans repeat the node in tree + detail sections: one
    # operator == exactly one numbered detail block
    import re

    assert len(re.findall(r"\(\d+\) FlatMapCoGroupsInPandas", p)) == 1
    assert "BatchEvalPython" not in p


@pytest.mark.parametrize("name", ["ann_rot_pq_adc_topk", "ann_opq_adc_topk"])
def test_rot_pq_stack_plans_broadcast_adc(spark, name):
    """The rotate→PQ→ADC stack is deliberately the ann_pq_adc_topk
    brute-force shape: the only nested loop allowed is the non-equi
    self-exclusion join against the TINY broadcast rotated-query set
    (Cross BuildRight); an unbounded CartesianProduct must never
    appear, and the corpus side carries only (vec_id, codes)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q(name)(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or "BuildRight" in head.split("(")[0], head


def test_bpe_doc_token_counts_broadcasts_word_dimension(spark):
    """Per-doc trained-tokenizer counting: the word→symbol-count table
    is the DIMENSION — it must reach the corpus-sized exploded side as
    a broadcast hash equi-join, never a nested loop or cartesian."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("bpe_doc_token_counts")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_windowed_drift_psi_plans_jvm_only_two_shuffles(spark):
    """The continuous drift monitor's batch form: zero Python stages
    (the whole point of the histogram/PSI path) and exactly two
    exchanges — (window,bin) counts then the per-window fold; the
    frozen reference is literals, so no join and no third shuffle."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("windowed_drift_psi")(spark, SF_SMOKE))
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p


def test_psi_merge_path_costs_exactly_one_extra_exchange(spark):
    """The safe default (assume_merged=False) pre-collapses duplicate
    (group, bin) rows for unioned histograms — that defensive sum is
    EXACTLY one extra Exchange over the trusted path on identical
    input, riding histogram-sized rows (|groups|×B), and both paths
    stay JVM-only."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.streaming.drift import (
        psi_vs_reference,
        windowed_value_histogram,
    )
    from hubsit_health_analytics_etl_spark.workload import load_table

    events = load_table(spark, SF_SMOKE, "events")
    hist = windowed_value_histogram(events, "ts", "1 day", "value", 0.0, 1.0, 8)
    n_ex = {}
    for flag in (True, False):
        p = physical_plan(psi_vs_reference(hist, [1] * 8, bins=8,
                                           assume_merged=flag))
        assert "EvalPython" not in p and "CartesianProduct" not in p
        n_ex[flag] = len(re.findall(r"\(\d+\) Exchange", p))
    # relative pin (ADVICE r10): the defensive path costs EXACTLY one
    # extra exchange over the trusted path, and the trusted path stays
    # within the two-shuffle contract — without hardcoding absolute
    # counts that drift across Spark/AQE versions.
    assert n_ex[False] == n_ex[True] + 1, n_ex
    assert n_ex[True] <= 2, n_ex


def test_bucketed_segment_revenue_join_never_shuffles(spark):
    """The co-located big-big join contract, driver-visible: both
    sides pre-bucketed on the customer key, so the sort-merge join
    runs with ZERO exchanges below it — the plan's ONLY exchange is
    the final segment aggregate (hash-partitioned on c_mktsegment),
    and both scans report their bucket layout."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("bucketed_segment_revenue")(spark, SF_SMOKE))
    assert "SortMergeJoin" in p
    ex = re.findall(r"\(\d+\) Exchange\n(.*?)\n\n", p, flags=re.S)
    assert len(ex) == 1, p
    assert "c_mktsegment" in ex[0]
    assert p.count("Bucketed: true") == 2


def test_duplicate_text_spans_never_pairwise(spark):
    """Substring-span dedup must stay linear in corpus tokens: the
    gram-df table reaches positions as a hash EQUI-join on the gram
    hash — never a cartesian/nested-loop pair expansion — and the
    whole pipeline is JVM-only (no Python eval stage)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("duplicate_text_spans")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_scrub_duplicate_spans_never_pairwise_text_never_shuffled(spark):
    """The substring REWRITE inherits the report's never-pairwise
    contract, JVM-only; and the text column itself must never ride a
    KEYED shuffle — every hash-partitioned Exchange moves only
    (doc_id, pos/gh/tp) keys, the token rebuild is map-side after the
    cut-set join. (spread's RoundRobin fixture-parallelism
    repartition of the raw scan is exempt — it is not a keyed
    data-movement stage and disappears on real input with at least
    shuffle-partitions row groups.)"""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("scrub_duplicate_spans")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    import re

    segs = re.findall(r"\(\d+\) Exchange\n(.*?)\n\n", p, flags=re.S)
    keyed = [s for s in segs if "hashpartitioning" in s]
    assert keyed, p
    for seg in keyed:
        assert "text#" not in seg and "toks#" not in seg, seg


def test_spans_new_batch_corpus_never_regrammed(spark):
    """Incremental substring dedup: the merged-path plan reads the
    persisted (gh, df) parquet index exactly once, and EVERY documents
    scan is batch-filtered (hash bucket < NEW_BATCH_PCT) — the corpus
    text is never re-read, let alone re-grammed, by the probe+merge."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("spans_new_batch")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("gram_df_index") == 1
    n_doc_scans = p.count("documents.parquet")
    assert n_doc_scans >= 1
    # one "% 100) < 10" batch-bucket condition per documents scan
    assert p.count("% 100) < 10") == n_doc_scans, p


def test_scrub_new_batch_corpus_never_regrammed(spark):
    """Incremental scrub: the merged plan reads the persisted
    (gh, df, owner) index once and every documents scan is
    batch-filtered — corpus text is never re-grammed or rewritten."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("scrub_new_batch")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("gram_owner_index") == 1
    n_doc_scans = p.count("documents.parquet")
    assert n_doc_scans >= 1
    assert p.count("% 100) < 10") == n_doc_scans, p


def test_runtime_bloom_filter_injects_on_big_smj_join(spark):
    """Runtime bloom-filter semi-join reduction (on by default in this
    Spark, gated on a 10 GB application-side scan) — pinned here by
    dropping the size gate, the test_aqe_skew precedent: a sort-merge
    join of the fact table against a selectively-filtered build side
    must inject `might_contain` onto the fact scan side, so at 100 TB
    the fact rows that cannot match are dropped BEFORE the shuffle
    with zero query changes."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        from hubsit_health_analytics_etl_spark.plans.explain import (
            physical_plan,
        )

        p = physical_plan(j)
        assert "might_contain" in p, p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_corpus_scrub_pipeline_never_pairwise(spark):
    """The composed dedup->scrub pipeline inherits both stages'
    no-cartesian contracts end-to-end."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("corpus_scrub_pipeline")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_search_broadcasts_queries_two_phase_topk_jvm_only(spark):
    """BM25: the query-term set and corpus stats ride broadcasts (no
    fact-side shuffle for them), nothing is pairwise, the whole plan
    is JVM codegen (no Python eval), and the per-query top-k is
    two-phase — the FIRST ranking window partitions on (query_id,
    salt), so no task ever sorts a whole query's corpus-sized match
    list."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("bm25_search")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    # phase-1 window spec includes the salt key next to query_id
    assert re.search(r"windowspecdefinition\(query_id#\d+, salt#\d+", p), p


def test_heavy_hitters_cms_probe_broadcast_topk_take_ordered(spark):
    """Count-min sketch: the counter grid (≤ depth×width rows) reaches
    the probe as a BROADCAST hash join — the sketch never shuffles the
    key space — and the global top-k is TakeOrderedAndProject (per-
    partition heap + merge), never a single-reducer sort window."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("heavy_hitters_cms")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_hybrid_rrf_search_broadcasts_sources_salted_topk_jvm_only(spark):
    """Hybrid retrieval: the only nested-loop join is the sanctioned
    Cross BuildRight against the broadcast query vectors (3 rows by
    construction); everything else is hash-equi-join; no Python eval;
    both source rankings are two-phase (salted first-phase windows)."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("hybrid_rrf_search")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross BuildRight"), head
    assert (
        len(re.findall(r"windowspecdefinition\(query_doc#\d+L?, salt#", p)) >= 2
    )


def test_cms_new_batch_probes_merged_grid_broadcast(spark):
    """Incremental CMS: the merged grid reaches the probe as a
    broadcast (grid size is depth×width regardless of merges) and the
    final top-k is TakeOrderedAndProject — same contracts as the
    full-recompute query, unchanged by the persisted-index round-trip."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("cms_new_batch")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_bm25_indexed_never_retokenizes_the_corpus(spark):
    """bm25_search_indexed reads the materialized term-stats index:
    its plan must contain NO Generate (explode) stage and no documents
    scan — the corpus is tokenized once at ingest, never per query."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workload import PREPARES

    PREPARES["bm25_search_indexed"](spark, SF_SMOKE)
    p = physical_plan(_q("bm25_search_indexed")(spark, SF_SMOKE))
    assert "Generate" not in p  # no explode anywhere
    assert "documents.parquet" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_phrase_search_broadcast_probe_no_pairwise(spark):
    """Phrase probe = broadcast hash equi-join on the gram hash
    against the map-only positional gram stage — no cartesian, no
    nested loop, no Python."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("phrase_search")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_bm25_new_batch_salted_topk_jvm_only(spark):
    """The incremental BM25 inherits the retrieval plan contracts:
    nothing pairwise beyond the sanctioned broadcast scalar cross,
    no Python eval, and the two-phase salted ranking windows."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("bm25_new_batch")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross BuildRight"), head
    assert re.search(r"windowspecdefinition\(query_id#\d+, salt#", p), p


def test_token_pmi_single_corpus_aggregates_topk_take_ordered(spark):
    """PMI collocations: bigram/unigram counts partial-combine map-side
    (no raw-token shuffle beyond the two aggregates), unigram joins are
    vocabulary-sized hash joins, scalars broadcast, and the global
    top-k is TakeOrderedAndProject — JVM-only, nothing pairwise."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("token_pmi_pairs")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "TakeOrderedAndProject" in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross BuildRight"), head


def test_bm25_forget_never_touches_text(spark):
    """The forget edit runs entirely on the standing term index: no
    Generate (tokenizer explode) anywhere, and the only documents
    access is the doc_id-column forget-list scan — no scan reads the
    text column."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workload import PREPARES

    PREPARES["bm25_forget"](spark, SF_SMOKE)
    p = physical_plan(_q("bm25_forget")(spark, SF_SMOKE))
    assert "Generate" not in p
    assert "text:string" not in p  # no ReadSchema pulls the text column
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_scrub_forget_never_regrams(spark):
    """scrub_forget reads the persisted positional postings once and
    never re-GRAMS text: the gram stage's md5-of-slice signature must
    be absent (the only text read is the inherent rebuild of kept
    docs)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workload import PREPARES

    PREPARES["scrub_forget"](spark, SF_SMOKE)
    p = physical_plan(_q("scrub_forget")(spark, SF_SMOKE))
    assert p.count("postings") >= 1
    assert "slice(" not in p  # the gram-hash stage never runs
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_cms_forget_subtracts_grids_broadcast_probe(spark):
    """cms_forget's plan: the persisted grid is read once, the only
    corpus-sized work is the deleted slice's re-sketch + the kept
    stream's probe/exact aggregates, the probe join is broadcast, and
    the final top-k is TakeOrderedAndProject."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workload import PREPARES

    PREPARES["cms_forget"](spark, SF_SMOKE)
    p = physical_plan(_q("cms_forget")(spark, SF_SMOKE))
    assert p.count("grid") >= 1
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_semantic_dedup_new_batch_corpus_never_rebucketed(spark):
    """Incremental semantic dedup: the probe plan reads the persisted
    bucket index once, and EVERY embeddings scan is batch-filtered —
    the corpus vectors are never re-bucketed or re-normed (the 64-term
    hyperplane projection runs on the batch side only)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("semantic_dedup_new_batch")(spark, SF_SMOKE))
    assert p.count("bucket_index") == 1
    n_emb_scans = p.count("embeddings.parquet")
    assert n_emb_scans >= 1
    assert p.count("% 100) < 10") == n_emb_scans, p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_quantiles_new_batch_index_bounded_report(spark):
    """The quantile report is bounded by the INDEX, never the data:
    the persisted histogram is read once, every events scan is
    batch-filtered (the corpus is never re-binned), and the only
    nested-loop joins are the sanctioned broadcast scalar/index
    crosses (n_rows + the pct probe over <= bins rows)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("quantiles_new_batch")(spark, SF_SMOKE))
    assert p.count("quantile_hist") == 1
    n_ev = p.count("events.parquet")
    assert n_ev >= 1
    assert p.count("% 100) < 10") == n_ev, p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross"), head


def test_doc_unigram_nll_vocabulary_join_jvm_only(spark):
    """LM scoring = two explode+agg passes + one equi-join on token
    (the persisted-vocabulary posture) + a broadcast totals cross —
    nothing pairwise, no Python eval, no keyed shuffle of text."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("doc_unigram_nll")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    for seg in p.split("BroadcastNestedLoopJoin")[1:]:
        head = seg.splitlines()[0].strip()
        assert head == "" or head.startswith("Cross"), head
    import re

    segs = re.findall(r"\(\d+\) Exchange\n(.*?)\n\n", p, flags=re.S)
    for seg in [s for s in segs if "hashpartitioning" in s]:
        assert "text#" not in seg, seg


def test_hybrid_indexed_zero_corpus_passes(spark):
    """hybrid_rrf_indexed probes the standing term + norm indexes:
    the plan must contain NO Generate (tokenizer explode), no
    documents scan, and no norm re-fold over the corpus (the sqrt
    fold ran once at index build) — only the query-time dot products
    remain."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workload import PREPARES

    PREPARES["hybrid_rrf_indexed"](spark, SF_SMOKE)
    p = physical_plan(_q("hybrid_rrf_indexed")(spark, SF_SMOKE))
    assert "Generate" not in p
    assert "documents.parquet" not in p
    assert "embeddings.parquet" not in p
    assert "sqrt(aggregate" not in p  # norms come from the index
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_weekly_cohort_retention_reuses_user_partitioning(spark):
    """Cohort matrix: the distinct-(user, week) pass, the per-user
    cohort MIN and the cohort join all cluster on user_id, the sizes
    dim broadcasts, and only (user_id, date) keys ever ride a
    hash-partitioned exchange — never event payloads."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("weekly_cohort_retention")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p  # sizes dim
    segs = re.findall(r"\(\d+\) Exchange\n(.*?)\n\n", p, flags=re.S)
    keyed = [s for s in segs if "hashpartitioning" in s]
    assert keyed, p
    for seg in keyed:
        assert "event_type#" not in seg and "props#" not in seg, seg


def test_user_value_outliers_single_user_partitioning(spark):
    """Sufficient-statistics z-test: the stats aggregate, the flag
    join and the outlier count all cluster on user_id — the plan's
    hash exchanges carry only (user_id, small ints), and there is no
    Python, nothing pairwise, no float in the flag expression (it is
    integer CASE arithmetic end to end)."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("user_value_outliers")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    segs = re.findall(r"\(\d+\) Exchange\n(.*?)\n\n", p, flags=re.S)
    keyed = [s for s in segs if "hashpartitioning" in s]
    assert keyed, p
    for seg in keyed:
        assert "user_id#" in seg, seg
        assert "props#" not in seg and "event_type#" not in seg, seg


def test_heavy_hitters_by_type_broadcast_grids_grouped_topk(spark):
    """Grouped CMS: the grid table broadcasts for the probe (it is
    |types|·depth·width rows by construction), nothing pairwise, no
    Python, and the per-type ranking is a grouped window over the
    candidate list."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("heavy_hitters_by_type")(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    import re

    assert re.search(r"windowspecdefinition\(event_type#", p), p


def test_rollup_incremental_maintenance_key_fingerprint_diff(spark):
    """IVM plan: the persisted rollup index is read once; the change
    detection is the fingerprint full-outer join (md5 in the plan,
    values never cross it); nothing pairwise, no Python."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("rollup_incremental_maintenance")(spark, SF_SMOKE))
    assert p.count("ivm") >= 1 and "rollup" in p
    assert "md5" in p  # fingerprint-based diff, not full-row compare
    assert "FullOuter" in p or "full_outer" in p.lower()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_quality_label_propagation_no_pairwise_no_python(spark):
    """LP inherits the dedup-graph plan contracts: the only candidate
    expansion is the LSH-bucketed inverted index (no cartesian, no
    nested loop), every per-round stage is a node-keyed join/agg, and
    the whole thing is JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("quality_label_propagation")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_vocab_forget_only_retokenizes_the_deleted_slice(spark):
    """vocab_forget's probe plan reads the persisted index once and
    re-tokenizes ONLY the deleted slice — every documents scan is
    forget-filtered (< FORGET_PCT), the kept corpus is never
    re-tokenized."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("vocab_forget")(spark, SF_SMOKE))
    assert p.count("vocab_index") == 1
    n_doc = p.count("documents.parquet")
    assert n_doc >= 1
    assert p.count("% 100) < 5") == n_doc, p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_quantiles_forget_only_rebins_the_deleted_slice(spark):
    """quantiles_forget reads the persisted histogram once and re-bins
    ONLY the deleted slice — every events scan is forget-filtered."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("quantiles_forget")(spark, SF_SMOKE))
    assert p.count("quantile_hist") == 1
    n_ev = p.count("events.parquet")
    assert n_ev >= 1
    assert p.count("% 100) < 5") == n_ev, p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_moments_new_batch_index_probe_shape(spark):
    """Incremental moments scoring: the returned plan reads the
    persisted triples index once, every events scan is batch-filtered
    (the corpus is never re-tripled in the probe), and the whole flag
    pipeline is integer CASE arithmetic — no Python, nothing
    pairwise."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("moments_new_batch")(spark, SF_SMOKE))
    # the merged index feeds two consumers (flag join + report join);
    # both sides re-read INDEX rows, never raw history
    assert 1 <= p.count("moments_idx") <= 2
    n_ev = p.count("events.parquet")
    assert n_ev >= 1
    assert p.count("% 100) < 10") == n_ev, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_moments_forget_only_retriples_the_deleted_slice(spark):
    """moments_forget reads the persisted triples once; the deleted
    slice re-triples and the kept stream probes — every events scan is
    forget-filtered one way or the other, so no unfiltered corpus pass
    survives in the maintained-index report."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("moments_forget")(spark, SF_SMOKE))
    assert 1 <= p.count("moments_idx") <= 2
    n_ev = p.count("events.parquet")
    assert n_ev >= 1
    assert p.count("% 100) < 5") + p.count("% 100) >= 5") == n_ev, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_llm_dataset_build_bounded_corpus_rescans(spark):
    """The flagship's pre-export plan re-scans the raw corpus exactly
    ONCE (the trained-tokenizer word table): curate+dedup+scrub run a
    single time behind the scrubbed-stage materialization, so the
    three downstream consumers (word explode, count join-back, pack
    windows) never re-trigger them. Nothing pairwise, nothing Python,
    no global sort — the pack/shard windows partition per shard."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workloads.w10_dataset_build import (
        _llm_dataset_plan,
    )

    p = physical_plan(_llm_dataset_plan(spark, SF_SMOKE))
    assert p.count("documents.parquet") == 1, p.count("documents.parquet")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    # every window partitions on the shard key — no single-partition
    # total-order funnel
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "shard" in spec, spec


def test_quantiles_by_type_partitioned_windows_only(spark):
    """Grouped quantile index: every window partitions on the group
    key (each group's cumulative pass is <= bins rows, all groups in
    parallel — no single-partition total-order funnel), the pct probe
    is a broadcast, and the whole plan is JVM-side."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("quantiles_by_type")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "event_type#" in spec, spec
    # the pct probe rides a broadcast, not a shuffle
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_theta_set_algebra_touches_index_only(spark):
    """theta_returning_customers' ESTIMATE side must be pure index
    algebra: the sketch build scans orders, the exact-pin side scans
    orders, but the sketch index is MATERIALIZED at its stage boundary
    so the set-ops stage re-plans zero raw passes — only the exact-pin
    side's two distinct (month, cust) scans remain in the returned
    plan, no cartesian, no Python."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("theta_returning_customers")(spark, SF_SMOKE))
    assert p.count("orders.parquet") <= 2, p.count("orders.parquet")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_theta_new_batch_merges_index_never_rescans_corpus(spark):
    """The incremental theta query's returned plan reads the persisted
    monthly index parquet and re-sketches ONLY the new-batch slice: every
    orders scan outside the exact-pin report is batch-filtered, and
    the merge is one full-outer join over index rows."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("theta_new_batch")(spark, SF_SMOKE))
    assert "theta_months" in p  # persisted index is a scan source
    assert p.count("% 100) < 10") >= 1, "batch slice must be hash-filtered"
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_pagerank_edges_materialized_once_no_per_iteration_rescan(spark):
    """page_rank materializes the (src, dst, d) frame before iterating:
    the returned top-k plan must contain ZERO raw lineitem/orders scans
    (all three iterations read materialized edge partitions), no
    cartesian, no Python, and a TakeOrderedAndProject top-k."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("supplier_customer_pagerank")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 0, "edge pipeline re-planned"
    assert p.count("orders.parquet") == 0
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_copurchase_triangles_pruned_graph_no_cartesian(spark):
    """The triangle report: the support-pruned edge list materializes
    at its stage boundary (it feeds degrees, orientation, wedges AND
    the close join — the returned plan must contain ZERO raw lineitem
    scans), every join is an equi-join (no cartesian / nested-loop),
    and the report is JVM-only with a TakeOrderedAndProject top-k."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("copurchase_triangles")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 0, "edge build re-planned per consumer"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    assert "TakeOrderedAndProject" in p


def test_copurchase_rules_broadcast_scalar_only_cross(spark):
    """Association rules: the only cross join is the broadcast scalar
    N; the basket self-join and both support joins are equi-joins;
    JVM-only with a TakeOrderedAndProject top-k."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("copurchase_rules")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p


def test_nation_month_locf_partitioned_window_broadcast_spine(spark):
    """LOCF gap-fill: the running IGNORE-NULLS window is PARTITIONED
    by nation (never a single global sort of the spine), the
    nation×months spine cross is broadcast-sized, and the whole fill
    is JVM expression work."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("nation_month_locf")(spark, SF_SMOKE))
    assert "partitionBy=[nation]" in p.replace(" ", "") or "hashpartitioning(nation" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_versioned_bloom_read_query_scans_fewer_files(spark):
    """The bloom point-lookup query: each probe's returned scan reads
    fewer files than the manifest lists (blooms skipped the rest,
    despite the hash-scatter making min/max useless), no Python."""
    from hubsit_health_analytics_etl_spark.sources.versioned import (
        commit_version,
        read_manifest,
        read_version,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w02_dedup import (
        _run_scoped_index_dir,
    )

    root = _run_scoped_index_dir("versioned_bloom_plan")
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    commit_version(
        orders.repartition(8, "o_orderkey"), root, bloom_cols=["o_orderkey"]
    )
    n_files = len(read_manifest(root, 0)["files"])
    probe = read_version(spark, root, point=("o_orderkey", 7))
    assert len(probe.inputFiles()) < n_files
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    assert "EvalPython" not in physical_plan(probe)


def test_ppr_and_textrank_zero_raw_rescans(spark):
    """Both PageRank compositions materialize their edge frames before
    iterating: the returned plans contain zero raw table scans, no
    cartesian, no Python."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("related_parts_ppr")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 0
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p2 = physical_plan(_q("textrank_keywords")(spark, SF_SMOKE))
    assert p2.count("documents.parquet") == 0
    assert "CartesianProduct" not in p2 and "EvalPython" not in p2


def test_hits_edges_materialized_once_no_per_round_rescan(spark):
    """hits_scores materializes the distinct edge list before
    iterating: the returned ranked plan must contain ZERO raw
    lineitem/orders scans (both rounds read materialized edge
    partitions), no cartesian, no Python, TakeOrderedAndProject
    top-k per role."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("supplier_customer_hits")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 0, "edge pipeline re-planned"
    assert p.count("orders.parquet") == 0
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_bfs_frontier_plan_zero_raw_scans_equi_joins_only(spark):
    """bfs_hops: the edges, the seeds and every round's frontier
    materialize, and visited is the lazy union of those checkpoints,
    so the returned distance table carries ZERO raw scans and only
    equi-joins (the per-round anti-join included) — no cartesian, no
    Python."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("part_hops_bfs")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 0, "edge/seed pipeline re-planned"
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_copurchase_aggregation_checkpointed_once_per_graph_query(
    spark, monkeypatch
):
    """part_hops_bfs / part_weighted_distance: of all the frames the
    builder checkpoints, exactly ONE holds the support-pruned
    co-purchase aggregation over lineitem (the pair-support filter).
    The seeds and the symmetrized edge frame read the materialized
    pairs; deriving the seeds from the lazy edge frame re-ran the
    whole pair aggregation a second time."""
    import re

    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.workloads.w14_graph import (
        TRI_MIN_SUPPORT,
    )

    support = re.compile(rf"Condition : \(\w+#\d+L? >= {TRI_MIN_SUPPORT}\)")
    plans = []
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def spy(df, *args, **kwargs):
        plans.append(physical_plan(df))
        return orig(df, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    for name in ("part_hops_bfs", "part_weighted_distance"):
        plans.clear()
        _q(name)(spark, SF_SMOKE).collect()
        hits = [p for p in plans if "lineitem.parquet" in p and support.search(p)]
        assert len(hits) == 1, (name, len(hits), len(plans))


def test_copurchase_pairs_equal_self_join(spark):
    """copurchase_pairs (one-scan basket expansion) returns exactly the
    rows of the oracles' distinct-(order, part) self-join with the
    support count — the construction every co-purchase query used
    before the helper."""
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w14_graph import (
        TRI_MIN_SUPPORT,
        copurchase_pairs,
    )

    op = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    b = op.select(F.col("ok"), F.col("pk").alias("pb"))
    ref = (
        op.join(b, (op["ok"] == b["ok"]) & (op["pk"] < b["pb"]))
        .groupBy(F.col("pk").alias("u"), F.col("pb").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= TRI_MIN_SUPPORT)
    )
    got = sorted(map(tuple, copurchase_pairs(spark, SF_SMOKE).collect()))
    assert got == sorted(map(tuple, ref.collect()))
    assert got, "empty pruned graph proves nothing"


def test_dsir_weights_jvm_only_no_cartesian_broadcast_totals(spark):
    """dsir_doc_weights: bigram construction and scoring stay inside
    Catalyst (no Python), the only cross join is the broadcast 1-row
    (N_t, N_r) totals, counts join on bucket (equi)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("dsir_doc_weights")(spark, SF_SMOKE))
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p


def test_prefix_filter_jaccard_equi_joins_partitioned_window(spark):
    """jaccard_prefix_filtered: every join is an equi-join (candidate
    generation and candidate-bounded verification), the df-rank
    window is PARTITIONED by document (never a global Sort over the
    whole postings table without partitioning), JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("jaccard_prefix_filtered")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p
    # the row_number window must carry a doc_id partition spec
    assert "windowspecdefinition(doc_id#" in p
    assert "Window" in p


def test_fuzzy_name_join_dedups_before_blocking(spark):
    """part_name_fuzzy_matches: the fuzzy phase runs over the
    DISTINCT-name aggregate (one part scan feeds the name dedup;
    everything downstream is name-table-sized), equi-joins only,
    JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("part_name_fuzzy_matches")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_dsir_new_batch_scores_from_frozen_index_batch_only(spark):
    """The incremental DSIR query's returned plan reads the persisted
    bucket-count parquets and explodes ONLY the batch slice: every
    documents scan is batch-hash-filtered, both count joins are
    equi-joins, JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("dsir_new_batch")(spark, SF_SMOKE))
    assert "dsir_target_counts" in p and "dsir_raw_counts" in p
    # exactly two documents scans (batch tf + batch report base),
    # both carrying the batch hash filter; the corpus-side complement
    # never appears — the frozen index replaced it
    assert p.count("documents.parquet") == 2
    assert p.count("% 100) < 10") == 2, "batch slices must be hash-filtered"
    assert "NOT ((cast(conv(substr(md5" not in p, "corpus re-exploded"
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_markov_window_partitioned_by_user_single_scan(spark):
    """event_markov_transitions: the sequence window is PARTITIONED by
    user (never a global sort over raw events), one events scan,
    JVM-only, no cartesian."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("event_markov_transitions")(spark, SF_SMOKE))
    assert "windowspecdefinition(user_id#" in p
    assert p.count("events.parquet") == 1
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_rfm_scores_over_materialized_customer_aggregate(spark):
    """customer_rfm_segments: the orders scan is materialized into the
    customer aggregate once (no second raw pass for the anchor-date
    scalar); the scalar joins broadcast; JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("customer_rfm_segments")(spark, SF_SMOKE))
    assert p.count("orders.parquet") <= 1
    assert "BroadcastExchange" in p
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_benford_prunes_to_single_price_column(spark):
    """benford_price_audit: one orders scan reading ONLY o_totalprice,
    with the positivity filter pushed to the scan."""
    from hubsit_health_analytics_etl_spark.plans.explain import assert_plan, physical_plan

    df = _q("benford_price_audit")(spark, SF_SMOKE)
    assert_plan(
        df,
        pushed_filter_substr="o_totalprice",
        read_schema_excludes=["o_custkey", "o_orderdate", "o_orderstatus"],
    )
    assert physical_plan(df).count("orders.parquet") == 1


def test_peak_concurrency_day_partitioned_sweep_single_scan(spark):
    """peak_concurrent_sessions: both sweep points emit from one row
    (single events scan — no union re-scan), and the running-sum
    window partitions BY DAY, never a global order over all points."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("peak_concurrent_sessions")(spark, SF_SMOKE))
    assert p.count("events.parquet") == 1
    assert "windowspecdefinition(day#" in p
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_fd_audit_no_cartesian_pruned_scans(spark):
    """functional_dependency_audit: every branch is groupBy+fold —
    no joins at all in the plan; the orders branches read only their
    two columns (no o_totalprice)."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("functional_dependency_audit")(spark, SF_SMOKE))
    assert "Join" not in p and "CartesianProduct" not in p
    assert "EvalPython" not in p
    orders_reads = [
        seg.splitlines()[0]
        for seg in p.split("ReadSchema: ")[1:]
        if "o_custkey" in seg.splitlines()[0]
    ]
    assert orders_reads and all("o_totalprice" not in s for s in orders_reads)


def test_diversity_single_doc_scan_excludes_text(spark):
    """source_lang_diversity: one documents scan that must NOT read
    the text column (composition needs only source+lang); the top-lang
    window partitions by source."""
    from hubsit_health_analytics_etl_spark.plans.explain import assert_plan, physical_plan

    df = _q("source_lang_diversity")(spark, SF_SMOKE)
    assert_plan(df, read_schema_excludes=["text", "n_chars"])
    p = physical_plan(df)
    assert p.count("documents.parquet") == 1
    assert "windowspecdefinition(source#" in p


def test_ewma_single_scan_two_columns(spark):
    """daily_revenue_ewma: one orders scan reading only (date, price);
    the lag window orders the bounded day series."""
    from hubsit_health_analytics_etl_spark.plans.explain import assert_plan, physical_plan

    df = _q("daily_revenue_ewma")(spark, SF_SMOKE)
    assert_plan(df, read_schema_excludes=["o_custkey", "o_orderstatus"])
    assert physical_plan(df).count("orders.parquet") == 1


def test_theilsen_materializes_day_series_once(spark):
    """daily_revenue_theilsen: the day series is materialized once —
    at most one orders scan survives in the plan even though five
    consumers derive from it; the pair join is the sanctioned
    day²-bounded nested-loop, never an unconditioned cartesian."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("daily_revenue_theilsen")(spark, SF_SMOKE))
    assert p.count("orders.parquet") <= 1
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_skyline_two_windows_no_self_join(spark):
    """brand_price_size_skyline: the textbook quadratic NOT EXISTS
    self-join must NOT appear — one part scan, two brand-partitioned
    windows, no join of any kind, JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("brand_price_size_skyline")(spark, SF_SMOKE))
    assert p.count("part.parquet") == 1
    assert "Join" not in p and "CartesianProduct" not in p
    assert "windowspecdefinition(p_brand#" in p
    assert "EvalPython" not in p


def test_bellman_ford_rounds_relax_from_checkpoints_only(spark):
    """part_weighted_distance: the returned plan's lineage is flat —
    per-round localCheckpoints replaced the raw scans, so the final
    merge never re-derives the graph (zero lineitem scans survive),
    equi-joins only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("part_weighted_distance")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 0
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_markov_lifecycle_never_rescans_corpus(spark):
    """markov_new_batch / markov_forget: the returned plan reads the
    persisted index plus materialized affected/batch slices — zero
    full events scans survive (the corpus re-read would defeat the
    affected-key contract), equi-joins only, JVM-only."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    for name in ("markov_new_batch", "markov_forget"):
        p = physical_plan(_q(name)(spark, SF_SMOKE))
        assert "markov_idx" in p
        assert p.count("events.parquet") == 0, name
        assert "CartesianProduct" not in p and "EvalPython" not in p


def test_zipf_head_via_takeordered_not_full_sort(spark):
    """corpus_zipf_fit: the head selection must plan
    TakeOrderedAndProject (distributed partial top-K), never a global
    sort of the full vocabulary."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("corpus_zipf_fit")(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert p.count("documents.parquet") == 1


def test_session2_scan_counts_and_shapes(spark):
    """One-scan / partitioned-window / no-cartesian pins for the
    session-2 additions that aren't covered by a dedicated test."""
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    p = physical_plan(_q("cohort_ltv_curve")(spark, SF_SMOKE))
    assert p.count("orders.parquet") <= 1
    assert "windowspecdefinition(cm#" in p  # cohort-partitioned cumsum
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = physical_plan(_q("nation_trimmed_mean_price")(spark, SF_SMOKE))
    assert p.count("lineitem.parquet") == 1
    assert "windowspecdefinition(nation#" in p
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = physical_plan(_q("funnel_conversion_latency")(spark, SF_SMOKE))
    assert p.count("events.parquet") == 1
    assert "windowspecdefinition(user_id#" in p
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = physical_plan(_q("user_value_mad_outliers")(spark, SF_SMOKE))
    # the windowed deviation frame materializes once (localCheckpoint),
    # so the returned plan reads it instead of re-running the rank
    # window — no full events scan survives
    assert p.count("events.parquet") <= 2
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = physical_plan(_q("doc_boilerplate_fraction")(spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p  # df join is an equi-join

    p = physical_plan(_q("tokenizer_fertility")(spark, SF_SMOKE))
    assert p.count("documents.parquet") == 1
    assert "EvalPython" not in p


def test_llm_dataset_new_batch_text_work_is_batch_proportional(spark, monkeypatch):
    """The incremental build's TEXT-SCALE operators (annotation, gram
    explode, scrub rewrite, raw word count) must be fed batch-/
    affected-sized inputs only — never the corpus (the 'cost ∝ batch'
    contract the oracle hash can't see). Spies wrap the operator entry
    points the timed body calls; the standing fixture builds FIRST
    (unspied) so only timed-body feeds are measured."""
    import hubsit_health_analytics_etl_spark.operators.textanalysis as ta
    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w02_dedup import (
        NEW_BATCH_PCT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w18_dataset_increment import (
        _prepare_llm_standing,
        q_llm_dataset_new_batch,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    n_corpus = docs.count()
    n_batch = docs.filter(hash_bucket("doc_id") < NEW_BATCH_PCT).count()
    assert 0 < n_batch < n_corpus // 2

    _prepare_llm_standing(spark, SF_SMOKE)  # fixture builds unspied

    feeds: dict[str, list[int]] = {}
    for fname in ("annotate_documents", "_doc_grams", "apply_cut_positions",
                  "bpe_word_table"):
        real = getattr(ta, fname)

        def spy(df, *a, _real=real, _n=fname, **kw):
            feeds.setdefault(_n, []).append(df.count())
            return _real(df, *a, **kw)

        monkeypatch.setattr(ta, fname, spy)

    out = q_llm_dataset_new_batch(spark, SF_SMOKE)
    assert out.count() > 0

    # generous affected-slack: selection flips can pull standing docs
    # into the re-scrub set, but never anything near the corpus
    cap = 2 * n_batch + 50
    for fname, sizes in feeds.items():
        for n in sizes:
            assert n <= cap, (fname, n, "cap", cap, "corpus", n_corpus)
    # every text entry point was actually exercised through the spies
    assert set(feeds) >= {"annotate_documents", "_doc_grams",
                          "apply_cut_positions", "bpe_word_table"}


def test_llm_dataset_forget_crafted_transitions(spark, tmp_path):
    """End-to-end forget on a CRAFTED corpus that deliberately drives
    every hand-written splice path — then hash-compared against the
    kept-docs oracle, exactly like the driver gate:

    - group {0, 5, 9} identical; rep 0 is DELETED (hash salt
      'forget' < 5) → representative transfers to 5, LSH postings
      rename, the standing near-dup pair (0, 12) remaps to (5, 12);
    - group {28, 73} identical, BOTH deleted → group extinct,
      postings drop;
    - eval doc 275 (deleted AND in the 5% eval slice) shares a 4-gram
      with kept doc 3; no surviving eval doc has it → doc 3
      de-contaminates and ENTERS the selection after the forget;
    - docs 3 and 4 share an 8-token span: once 3 is selected the span
      becomes df≥2, doc 4 loses it to owner 3 → the cut-diff re-scrub
      path fires for a STANDING doc."""
    import hashlib

    from hubsit_health_analytics_etl_spark.workloads.w18_dataset_increment import (
        _LLM_STANDING_FULL,
        q_llm_dataset_forget,
    )
    from hubsit_health_analytics_etl_spark.workload import ORACLES

    from .oracle_check import compare, duckdb_conn

    def b(i, salt):
        return int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16) % 100

    # sanity-pin the hash roles the corpus is built around
    for i in (0, 28, 73, 151, 275):
        assert b(i, "forget") < 5
    for i in (1, 2, 3, 4, 5, 9, 12, 20):
        assert b(i, "forget") >= 5
    assert b(275, "eval") < 5 and all(b(i, "eval") >= 5 for i in (3, 4, 5, 12))

    base = (
        "the quick brown fox jumps over the lazy dog while the small "
        "red hen walks along the quiet river bank every single morning "
        "and the old grey owl watches from the tall green tree"
    )  # 33 tokens of plain English — passes lang/quality/token band
    near = base.replace("morning", "evening")  # J >> 0.3 with base
    span = "one two three four five six seven eight nine ten eleven twelve"
    doc3 = f"{span} and then the people walk to the market near the harbour every day with friends"
    doc4 = f"{span} but later the children run across the field toward the school before the bell rings"
    secret = "zebra quokka lemur axolotl"  # the contaminating 4-gram
    doc275 = f"this is the held out evaluation text with {secret} inside it and some more plain words to pass the token band easily enough here"
    filler = (
        "it was a bright cold day in april and the clocks were striking "
        "thirteen while people hurried along the wet streets under small "
        "umbrellas toward the station"
    )
    rows = [
        (0, base, "en", "web", len(base)),
        (5, base, "en", "web", len(base)),
        (9, base, "en", "web", len(base)),
        (28, "twenty eight " + filler, "en", "web", 10),
        (73, "twenty eight " + filler, "en", "web", 10),
        (12, near, "en", "web", len(near)),
        (3, doc3 + f" also it mentions {secret} for the contamination path", "en", "web", 10),
        (4, doc4, "en", "web", 10),
        (275, doc275, "en", "web", len(doc275)),
        (151, "one fifty one " + filler + " again", "en", "web", 10),
        (1, "first extra " + filler, "en", "web", 10),
        (2, "second extra " + filler.replace("april", "march"), "en", "web", 10),
        (20, "kept eval doc " + filler.replace("station", "harbour"), "en", "web", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "crafted")
    import os
    import shutil

    os.makedirs(sf_dir)
    # the fixture layout is a single FILE per table (DuckDB
    # read_parquet on the same path) — not a Spark directory
    staged = str(tmp_path / "staged")
    df.coalesce(1).write.parquet(staged)
    part = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    assert len(part) == 1
    shutil.copy(f"{staged}/{part[0]}", f"{sf_dir}/documents.parquet")

    _LLM_STANDING_FULL.pop(sf_dir, None)  # fresh fixture for this corpus
    out = q_llm_dataset_forget(spark, sf_dir)
    con = duckdb_conn(sf_dir)
    problems = compare(out, con, ORACLES["llm_dataset_forget"], "llm_dataset_forget")
    assert problems == [], problems

    got = {r["doc_id"]: r for r in out.collect()}
    # deleted ids are gone from the dump
    assert not ({0, 28, 73, 151, 275} & set(got))
    # doc 3 de-contaminated and entered the dump (eval doc 275 left)
    assert 3 in got
    # rep transfer: the surviving group keeps exactly its min-id keeper
    # (5), and absorbed member 9 stays deduplicated away
    assert 5 in got and 9 not in got
    # near-dup 12 merged into 5's cluster -> deduplicated away too
    assert 12 not in got
    # doc 4 lost its shared span to new owner 3: fewer tokens kept
    # than its raw token count
    n4 = got[4]["n_tokens_kept"]
    assert 0 < n4 < len(doc4.split())


def test_llm_dataset_forget_text_work_is_deletion_proportional(spark, monkeypatch):
    """Forget twin of the batch-proportionality pin: the timed body's
    text-scale operators must be fed deleted-/affected-sized inputs
    only — the corpus never re-reads. (decon_grams and bpe_word_table
    run over the DELETED docs to compute the count decrements;
    apply_cut_positions over cut-set-changed docs; _doc_grams over
    newly selected docs.)"""
    import hubsit_health_analytics_etl_spark.operators.textanalysis as ta
    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w18_dataset_increment import (
        LLM_FORGET_PCT,
        _prepare_llm_standing_full,
        q_llm_dataset_forget,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    n_corpus = docs.count()
    n_del = docs.filter(
        hash_bucket("doc_id", salt="forget") < LLM_FORGET_PCT
    ).count()
    assert 0 < n_del < n_corpus // 4

    _prepare_llm_standing_full(spark, SF_SMOKE)  # fixture builds unspied

    feeds: dict[str, list[int]] = {}
    for fname in ("decon_grams", "_doc_grams", "apply_cut_positions",
                  "bpe_word_table"):
        real = getattr(ta, fname)

        def spy(df, *a, _real=real, _n=fname, **kw):
            feeds.setdefault(_n, []).append(df.count())
            return _real(df, *a, **kw)

        monkeypatch.setattr(ta, fname, spy)

    out = q_llm_dataset_forget(spark, SF_SMOKE)
    assert out.count() > 0

    cap = 3 * n_del + 50  # generous affected-slack, far below corpus
    for fname, sizes in feeds.items():
        for n in sizes:
            assert n <= cap, (fname, n, "cap", cap, "corpus", n_corpus)
    assert set(feeds) >= {"decon_grams", "apply_cut_positions", "bpe_word_table"}


def test_llm_dataset_merge_only_never_retrains_and_is_batch_proportional(
    spark, monkeypatch
):
    """The pinned-tokenizer contract the merge-only query exists for
    (VERDICT r14 #2): with the fixture pre-built, the timed body must
    (a) NEVER call the tokenizer trainer (the pinned merges come from
    the fixture), (b) never re-read the corpus word table
    (bpe_word_table uncalled — unchanged docs pass their standing
    pricing through), (c) feed the text-scale operators batch-/
    affected-sized inputs only, and (d) apply the pinned merges only
    to the NEW-WORD dimension (words the standing vocab never saw)."""
    import hubsit_health_analytics_etl_spark.operators.textanalysis as ta
    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w02_dedup import (
        NEW_BATCH_PCT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w18_dataset_increment import (
        _prepare_llm_merge_fixture,
        q_llm_dataset_merge_only,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    n_corpus = docs.count()
    n_batch = docs.filter(hash_bucket("doc_id") < NEW_BATCH_PCT).count()
    assert 0 < n_batch < n_corpus // 2

    _prepare_llm_merge_fixture(spark, SF_SMOKE)  # fixture builds unspied

    def no_retrain(*a, **kw):
        raise AssertionError(
            "llm_dataset_merge_only must never retrain the tokenizer"
        )

    monkeypatch.setattr(ta, "bpe_train_merges_from_words", no_retrain)
    monkeypatch.setattr(ta, "bpe_word_table", no_retrain)

    feeds: dict[str, list[int]] = {}
    for fname in ("annotate_documents", "_doc_grams", "apply_cut_positions",
                  "bpe_apply_merges"):
        real = getattr(ta, fname)

        def spy(df, *a, _real=real, _n=fname, **kw):
            feeds.setdefault(_n, []).append(df.count())
            return _real(df, *a, **kw)

        monkeypatch.setattr(ta, fname, spy)

    out = q_llm_dataset_merge_only(spark, SF_SMOKE)
    assert out.count() > 0

    cap = 2 * n_batch + 50
    for fname, sizes in feeds.items():
        for n in sizes:
            assert n <= cap, (fname, n, "cap", cap, "corpus", n_corpus)
    assert set(feeds) >= {"annotate_documents", "_doc_grams",
                          "apply_cut_positions", "bpe_apply_merges"}


@pytest.mark.parametrize("name", ["ann_forget_topk", "ann_incremental_topk"])
def test_ivf_centroid_training_runs_once_per_index_build(spark, monkeypatch, name):
    """Of all the actions the IVF index builders run (checkpoints,
    counts, collects, parquet writes), exactly ONE may carry the
    label-mean centroid training (its ``posexplode`` of the embedding)
    in its plan: the trained quantizer is materialized once and the
    centroid write, the assignment write and the forget pass all read
    that one evaluation. A lazy centroid frame re-ran the training in
    every consumer (5 actions in the forget build, 2 in the plain
    one)."""
    df_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)
    hits = []

    def spy(cls, meth, frame_of):
        orig = getattr(cls, meth)

        def wrapped(self, *args, **kwargs):
            analyzed = frame_of(self)._jdf.queryExecution().analyzed().toString()
            if "Generate posexplode" in analyzed:
                hits.append(meth)
            return orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, meth, wrapped)

    for meth in ("localCheckpoint", "count", "collect"):
        spy(df_cls, meth, lambda df: df)
    spy(writer_cls, "parquet", lambda w: w._df)
    _q(name)(spark, SF_SMOKE)
    assert len(hits) == 1, hits
