"""Connected-components dedup clustering on crafted graphs."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyspark.sql.functions as F


def test_connected_components_chain_and_islands(spark):
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
    )

    # chain 1-2-3-4, pair {10,11}, triangle {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert {comp[n] for n in (1, 2, 3, 4)} == {1}
    assert {comp[n] for n in (10, 11)} == {10}
    assert {comp[n] for n in (20, 21, 22)} == {20}


def test_dedup_clusters_counts_and_singletons(spark):
    from hubsit_health_analytics_etl_spark.operators.clusters import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long")
    out = {r["component"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert out[0]["n_members"] == 3 and out[0]["keeper"] == 0
    assert out[5]["n_members"] == 2 and out[5]["keeper"] == 5
    singles = [c for c, r in out.items() if r["n_members"] == 1]
    assert sorted(singles) == [3, 4, 7]
    assert sum(r["n_members"] for r in out.values()) == 8


def test_dedup_clusters_on_fixture_pairs(spark):
    """Cluster count + membership must be consistent with the pair set:
    every paired doc shares a component with its partner."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
    )
    from hubsit_health_analytics_etl_spark.operators.dedup import minhash_candidates
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_candidates(docs).filter(F.col("jaccard") >= 0.3)
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    for r in pairs.collect():
        assert comp[r["doc_a"]] == comp[r["doc_b"]]


def test_long_chain_converges_in_log_rounds(spark):
    """A 100-node path graph has diameter 99: plain one-hop min-label
    propagation cannot finish inside max_iter=20, but pointer-jumping
    compression shortcuts label chains geometrically."""
    import pyspark.sql.functions as F
    import pytest

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    comps = connected_components(chain, max_iter=20, compress=True)
    rows = comps.collect()
    assert len(rows) == 101
    assert {r.component for r in rows} == {0}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=5, compress=False).collect()


def test_dedup_keep_list_invariants(spark):
    """The keep-list must agree with the cluster summary: exactly one
    keep per component (the min id), n_members consistent, every doc
    present exactly once, and SUM(keep) == number of clusters."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        dedup_clusters,
        dedup_keep_list,
    )
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        exact_dup_edges,
        minhash_candidates,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    near = minhash_candidates(docs, pre_exact_dedup=True).filter(
        F.col("jaccard") >= 0.3
    )
    edges = near.unionByName(exact_dup_edges(docs))
    kl = dedup_keep_list(docs, edges).collect()
    summary = {r.component: (r.n_members, r.keeper) for r in
               dedup_clusters(docs, edges).collect()}

    assert len(kl) == docs.count()  # every doc decided exactly once
    kept = [r for r in kl if r.keep == 1]
    assert len(kept) == len(summary)  # one keeper per cluster
    for r in kl:
        n_members, keeper = summary[r.component]
        assert r.n_members == n_members
        assert (r.doc_id == keeper) == (r.keep == 1)


def test_priority_keeper_overrides_min_id(spark):
    """dedup_keep_list_by_priority must pick argmin (priority, id) per
    component: the curated copy (prio 0) beats a smaller id from a
    worse source; ties on priority fall back to min id (and a constant
    priority therefore reproduces dedup_keep_list exactly)."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        dedup_keep_list,
        dedup_keep_list_by_priority,
    )

    docs = spark.createDataFrame(
        [(1, "crawl"), (2, "crawl"), (3, "curated"), (10, "crawl"), (11, "crawl"),
         (20, "curated")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    prio = F.when(F.col("source") == "curated", 0).otherwise(1)
    out = {r["doc_id"]: r for r in dedup_keep_list_by_priority(docs, pairs, prio).collect()}
    # cluster {1,2,3}: curated doc 3 wins although 1 is the min id
    assert [out[i]["keep"] for i in (1, 2, 3)] == [0, 0, 1]
    assert all(out[i]["component"] == 1 and out[i]["n_members"] == 3 for i in (1, 2, 3))
    # cluster {10,11}: all crawl -> min id keeps (tie fallback)
    assert (out[10]["keep"], out[11]["keep"]) == (1, 0)
    # singleton keeps itself
    assert out[20]["keep"] == 1 and out[20]["n_members"] == 1
    # constant priority degrades to the plain min-id keep-list
    flat = dedup_keep_list_by_priority(docs, pairs, F.lit(0))
    plain = dedup_keep_list(docs, pairs)
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, plain.collect()))


def test_incremental_clusters_equal_full_recompute(spark):
    """incremental_dedup_clusters must reproduce the from-scratch
    labelling exactly across the hard cases: a batch doc MERGING two
    existing components, a batch doc with a smaller id taking over a
    component's label, edge-less batch singletons, and untouched
    components passing through unrelabelled."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
        incremental_dedup_clusters,
    )

    corpus_nodes = [1, 2, 5, 6, 9, 20, 21]
    corpus_edges = spark.createDataFrame(
        [(1, 2), (5, 6), (20, 21)], "doc_a long, doc_b long"
    )
    comps = connected_components(corpus_edges)
    labels = (
        spark.createDataFrame([(n,) for n in corpus_nodes], "node long")
        .join(comps, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )

    batch_nodes = spark.createDataFrame([(3,), (0,), (100,)], "node long")
    new_edges = spark.createDataFrame(
        [(2, 3), (3, 6),   # doc 3 merges components {1,2} and {5,6}
         (0, 9)],          # doc 0 (smaller id) takes over component 9
        "doc_a long, doc_b long",
    )
    got = {
        (r["node"], r["component"])
        for r in incremental_dedup_clusters(labels, new_edges, batch_nodes).collect()
    }
    full = connected_components(corpus_edges.union(new_edges))
    expected = {
        (r["node"], r["component"])
        for r in spark.createDataFrame(
            [(n,) for n in corpus_nodes + [3, 0, 100]], "node long"
        )
        .join(full, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
        .collect()
    }
    assert got == expected
    # spot-check the semantics the set equality encodes
    d = dict(got)
    assert d[6] == 1 and d[3] == 1          # merged through batch doc 3
    assert d[9] == 0 and d[0] == 0          # label taken over by smaller batch id
    assert d[100] == 100                    # edge-less batch singleton
    assert d[20] == 20 and d[21] == 20      # untouched component passed through


@contextmanager
def _session_checkpoint_dir(spark, path):
    """Set the session checkpoint directory for the block, then clear
    it: a directory left on the shared session would turn every later
    test's materializations reliable."""
    spark.sparkContext.setCheckpointDir(path)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)
    assert spark.sparkContext.getCheckpointDir() is None


def _files_under(path):
    return [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a session checkpoint directory, connected_components runs
    its loop on RELIABLE df.checkpoint() — per-round label frames
    persisted under that directory (what survives executor loss at
    100 TB; SCALING.md "Iterative jobs") — and produces exactly the
    localCheckpoint path's labels."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
    )

    # chain + separate pair + singleton-free component structure
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    expected = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    ckpt = str(tmp_path / "cc_ckpt")
    with _session_checkpoint_dir(spark, ckpt):
        got = {
            (r.node, r.component)
            for r in connected_components(edges).collect()
        }
    assert got == expected
    assert {(1, 1), (4, 1), (10, 10), (22, 20)} <= got
    assert _files_under(ckpt), "no reliable checkpoint files written"


def test_forget_documents_reliable_checkpoint(spark, tmp_path):
    """The session policy reaches the incremental paths too:
    forget_documents (and the connected_components it calls) writes
    reliable checkpoints under the session directory and returns the
    localCheckpoint path's labels — deleting cut vertex 3 splits
    {1,2,3,4,5} into {1,2} and {4,5}."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        forget_documents,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)],
        "node long, component long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    deleted = spark.createDataFrame([(3,)], "node long")

    def run():
        return {
            (r.node, r.component)
            for r in forget_documents(labels, edges, deleted).collect()
        }

    expected = run()
    ckpt = str(tmp_path / "forget_ckpt")
    with _session_checkpoint_dir(spark, ckpt):
        got = run()
    assert got == expected
    assert got == {(1, 1), (2, 1), (4, 4), (5, 4), (10, 10), (11, 10)}
    assert _files_under(ckpt), "no reliable checkpoint files written"


def test_leakage_safe_split_keeps_duplicates_same_side(spark):
    """The split's whole guarantee: no duplicate pair straddles
    train/test — plus the split is exhaustive, cluster-constant, and a
    per-doc hash split on the SAME fixture WOULD straddle (so the test
    can't pass vacuously)."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        leakage_safe_split,
    )
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        exact_dup_edges,
        minhash_candidates,
    )
    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_candidates(docs, pre_exact_dedup=True).filter(
        F.col("jaccard") >= 0.3
    )
    edges = pairs.unionByName(exact_dup_edges(docs))
    out = leakage_safe_split(docs, edges, test_pct=30)
    rows = out.collect()
    assert len(rows) == docs.count()  # exhaustive: every doc gets a side
    side = {r["doc_id"]: r["split"] for r in rows}
    comp = {r["doc_id"]: r["component"] for r in rows}
    assert set(side.values()) == {"train", "test"}  # both sides non-empty
    edge_rows = edges.collect()
    assert edge_rows
    for r in edge_rows:
        assert side[r["doc_a"]] == side[r["doc_b"]]
        assert comp[r["doc_a"]] == comp[r["doc_b"]]
    # cluster-constant: one split value per component
    per_comp = out.groupBy("component").agg(
        F.count_distinct("split").alias("n")
    )
    assert per_comp.filter(F.col("n") > 1).count() == 0
    # the naive per-doc split WOULD leak on this very graph — i.e. the
    # fixture actually exercises the guarantee
    naive = {
        r["doc_id"]: r["b"]
        for r in docs.select(
            "doc_id", (hash_bucket("doc_id", 100, "split") < 30).alias("b")
        ).collect()
    }
    assert any(naive[r["doc_a"]] != naive[r["doc_b"]] for r in edge_rows)


def test_forget_documents_splits_at_cut_vertex(spark):
    """Deleting a cut vertex must SPLIT its component — the case star
    contraction cannot express, hence the real-edge re-read."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        forget_documents,
    )

    # chain 1-2-3-4-5 (component 1), pair {10,11}, singleton 20
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10), (20, 20)],
        "node long, component long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    deleted = spark.createDataFrame([(3,)], "node long")
    out = {r["node"]: r["component"] for r in forget_documents(labels, edges, deleted).collect()}
    assert 3 not in out
    assert out[1] == 1 and out[2] == 1          # left half keeps min label
    assert out[4] == 4 and out[5] == 4          # right half re-elects min
    assert out[10] == 10 and out[11] == 10      # untouched comp passes through
    assert out[20] == 20                        # untouched singleton survives
    assert len(out) == 7


def test_forget_documents_reelects_keeper_and_drops_singletons(spark):
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        forget_documents,
    )

    # triangle {1,2,3}; pair {7,8}; singleton 9
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)],
        "node long, component long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (7, 8)], "doc_a long, doc_b long"
    )
    # delete the min-id keeper of the triangle, one pair member, the
    # singleton, and an id the index never saw (no-op)
    deleted = spark.createDataFrame([(1,), (8,), (9,), (999,)], "node long")
    out = {r["node"]: r["component"] for r in forget_documents(labels, edges, deleted).collect()}
    assert out == {2: 2, 3: 2, 7: 7}  # keeper re-elected; 7 now singleton


def test_splice_cluster_edges_add_remove_and_split(spark):
    """The mixed add+remove splice law on crafted data: a retracted
    BRIDGE must split its component (star edges can't do this), an
    added edge must merge across standing components, and untouched
    components must pass through — all equal to a from-scratch CC over
    the edited edge set."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
        splice_cluster_edges,
    )

    # standing graph: {1-2-3} (2-3 is a bridge), {10-11}, {20,21} singles
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20, 21)], "node long"
    )
    labels = nodes.join(
        connected_components(edges), "node", "left"
    ).selectExpr("node", "coalesce(component, node) as component")

    # batch: retract the 2-3 bridge, add 3-10 (merges 3 into {10,11}),
    # add a brand-new node 30 linked to 20
    new_edges = spark.createDataFrame(
        [(3, 10), (20, 30)], "doc_a long, doc_b long"
    )
    removed = spark.createDataFrame([(2, 3)], "doc_a long, doc_b long")
    new_nodes = spark.createDataFrame([(30,)], "node long")

    got = {
        r["node"]: r["component"]
        for r in splice_cluster_edges(
            labels, edges, new_edges, removed, new_nodes
        ).collect()
    }
    # from-scratch truth over the edited graph
    edited = spark.createDataFrame(
        [(1, 2), (10, 11), (3, 10), (20, 30)], "doc_a long, doc_b long"
    )
    all_nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20, 21, 30)], "node long"
    )
    want = {
        r["node"]: r["component"]
        for r in all_nodes.join(connected_components(edited), "node", "left")
        .selectExpr("node", "coalesce(component, node) as component")
        .collect()
    }
    assert got == want
    # and the law is visible: split {1,2} vs {3,10,11}, merged 20-30,
    # untouched singleton 21
    assert want[1] == want[2] != want[3]
    assert want[3] == want[10] == want[11]
    assert want[20] == want[30] and want[21] == 21


def test_capped_pair_retractions_crafted_overflow(spark):
    """The cap-retraction law on crafted postings: a batch posting
    pushes ONE bucket over the cap — the standing pair that bucket
    alone supported is retracted; a pair with a second (still
    below-cap) supporting band survives; an already-overfull bucket
    (never a pair source) retracts nothing."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        capped_pair_retractions,
    )

    cap = 2
    # band postings: bucket (0,'k') holds docs 1,2 (AT cap);
    # bucket (1,'m') holds docs 1,2 as a second support for (1,2);
    # bucket (0,'q') holds docs 5,6 (at cap, no second support);
    # bucket (2,'z') holds docs 7,8,9 (ALREADY over cap — no pairs)
    bands = spark.createDataFrame(
        [
            (1, 0, "k"), (2, 0, "k"),
            (1, 1, "m"), (2, 1, "m"),
            (5, 0, "q"), (6, 0, "q"),
            (7, 2, "z"), (8, 2, "z"), (9, 2, "z"),
        ],
        "doc_id long, band_idx int, band_key string",
    )
    sizes = bands.groupBy("band_idx", "band_key").count().withColumnRenamed(
        "count", "n"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (5, 6)], "doc_a long, doc_b long"
    )
    # batch posts into (0,'k') and (0,'q'), pushing both over cap
    nb = spark.createDataFrame(
        [(100, 0, "k"), (101, 0, "q")],
        "doc_id long, band_idx int, band_key string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in capped_pair_retractions(bands, sizes, nb, pairs, cap).collect()
    }
    # (5,6) loses its only support -> retracted; (1,2) survives via
    # band (1,'m') which the batch never touched
    assert got == {(5, 6)}

    # no batch postings -> nothing retracts
    empty = nb.filter("doc_id < 0")
    assert (
        capped_pair_retractions(bands, sizes, empty, pairs, cap).count() == 0
    )


def test_bucket_underflow_candidates_crafted(spark):
    """The deletion dual of the cap law: a bucket OVER cap emits no
    pairs; dropping one member brings it to cap and its suppressed
    pairs become generable; a bucket already under cap re-emits
    nothing (its pairs were never suppressed); a bucket still over
    cap after the drop stays silent."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        bucket_underflow_candidates,
    )

    cap = 2
    # pre-deletion postings: (0,'k') has 3 members (over cap),
    # (1,'m') has 2 (at cap), (2,'z') has 4 (over, stays over)
    bands = spark.createDataFrame(
        [
            (1, 0, "k"), (2, 0, "k"), (9, 0, "k"),
            (1, 1, "m"), (2, 1, "m"),
            (5, 2, "z"), (6, 2, "z"), (7, 2, "z"), (8, 2, "z"),
        ],
        "doc_id long, band_idx int, band_key string",
    )
    sizes = bands.groupBy("band_idx", "band_key").count().withColumnRenamed(
        "count", "n"
    )
    # doc 9 deleted (extinct group): (0,'k') falls 3 -> 2 = cap;
    # (2,'z') loses nothing and stays over
    dropped = bands.filter("doc_id = 9")
    surviving = bands.filter("doc_id != 9")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in bucket_underflow_candidates(
            surviving, sizes, dropped, cap
        ).collect()
    }
    assert got == {(1, 2)}
    # nothing dropped -> nothing reinstated
    assert (
        bucket_underflow_candidates(
            bands, sizes, bands.filter("doc_id < 0"), cap
        ).count()
        == 0
    )


def test_splice_cluster_edges_shuffle_fallback_equals_broadcast(
    spark, monkeypatch
):
    """The member-broadcast skew guard (ADVICE r16 medium): forcing
    SPLICE_MEMBER_BCAST_CAP to 0 demotes the affected-membership
    broadcast to a shuffle semi-join — the splice result must be
    row-identical to the broadcast fast path (same crafted
    add+remove+split scenario as the law test above)."""
    import hubsit_health_analytics_etl_spark.operators.clusters as c

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20, 21)], "node long"
    )
    labels = nodes.join(
        c.connected_components(edges), "node", "left"
    ).selectExpr("node", "coalesce(component, node) as component")
    new_edges = spark.createDataFrame(
        [(3, 10), (20, 30)], "doc_a long, doc_b long"
    )
    removed = spark.createDataFrame([(2, 3)], "doc_a long, doc_b long")
    new_nodes = spark.createDataFrame([(30,)], "node long")

    def run():
        return {
            r["node"]: r["component"]
            for r in c.splice_cluster_edges(
                labels, edges, new_edges, removed, new_nodes
            ).collect()
        }

    fast = run()
    monkeypatch.setattr(c, "SPLICE_MEMBER_BCAST_CAP", 0)
    assert run() == fast and len(fast) == 8
