"""Scale-stress harness (VERDICT r12 #2): measure the iterative/index
families on a synthetic corpus 10x the sf0.1 fixtures and record the
SCALE INVARIANTS the 100 TB design claims rest on.

Usage:
    python bench_scale.py            # base (1x) + 10x, one JSON grid

What it checks (and why these, not raw seconds):
- **Per-query growth ratio** vs a same-generator 1x corpus. A
  bucket-blocked / index-backed family should grow ~linearly in rows;
  a hidden all-pairs or resort would grow ~quadratically and the
  ratio names it. (Seconds also ride the grid for the record, but the
  box noise rules of BASELINE.md apply — the RATIO between two grids
  taken back-to-back in one session is the statistic.)
- **Connected-components round count** at 1x vs 10x: pointer-jumping
  CC converges in ~log2(diameter) rounds; flat rounds at 10x the
  corpus is the evidence the iterative family's latency is
  round-bound, not data-bound.
- **MinHash bucket-cap drop rate** (dropped members / corpus size)
  at 1x vs 10x under the production config: the cap is sized to drop
  degenerate buckets at a rate independent of N (the
  operators/scaleparams.py derivation) — a growing rate would mean
  recall decays with scale.

The corpora come from the synthetic Data Source
(sources/synthetic.py, vocab=4000 so near-dup and exact-dup RATES are
realistic and scale-invariant by construction: ~10% exact clones,
hash-seeded text) plus Spark-side md5-deterministic events and
embeddings with the fixture schemas. Everything is a pure function of
the row id — the 1x and 10x corpora are the SAME distribution, only
bigger, which is what makes the ratios meaningful.

Output: ONE JSON line on stdout + the full grid at
bench_evidence/r13_scale10x_grid.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyspark.sql.functions as F

from hubsit_health_analytics_etl_spark.sources.parquet import spread

HERE = os.path.dirname(os.path.abspath(__file__))

# the iterative / index families VERDICT r12 #2 names, all of whose
# only table inputs are documents/events/embeddings
SCALE_QUERIES = [
    "exact_dedup",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_clusters_new_batch",
    "winnow_candidate_pairs",
    "bm25_new_batch",
    "quantiles_new_batch",
    "cms_new_batch",
    "moments_new_batch",
    "llm_dataset_build",
    # r13 families: theta index merge, the three graph/basket reports
    "theta_new_batch",
    "supplier_customer_pagerank",
    "copurchase_triangles",
    "copurchase_rules",
    # r13 session additions: dual-score + frontier graph members,
    # prefix-filtered set-similarity, hashed-feature data selection
    "supplier_customer_hits",
    "part_hops_bfs",
    "jaccard_prefix_filtered",
    "dsir_doc_weights",
    # r13 session-2 additions: adjacency-index maintenance, the
    # day-partitioned sweep line, the df-join repetition score and the
    # top-K law fit — each a different shuffle shape over events/docs
    "event_markov_transitions",
    "markov_new_batch",
    "peak_concurrent_sessions",
    "doc_boilerplate_fraction",
    "corpus_zipf_fit",
    # r15 lifecycle family (VERDICT r14 #5): the composite splice /
    # forget / pinned-tokenizer merge bodies (standing fixtures via
    # PREPARES, untimed) and the SCD2 batch apply
    "llm_dataset_new_batch",
    "llm_dataset_merge_only",
    "llm_dataset_forget",
    "scd2_apply_changes",
]

BASE_DOCS, BASE_EVENTS, BASE_VECS, BASE_USERS = 5_000, 100_000, 2_000, 2_000
BASE_ORDERS = 15_000  # lineitem = 4 lines/order, parts/custs/supps scale with it
SCALE = 10
VOCAB = 4_000


def gen_corpus(spark, out_dir: str, n_docs: int, n_events: int,
               n_vecs: int, n_users: int, n_orders: int) -> None:
    """documents + events + embeddings with the fixture schemas, all
    md5-deterministic pure functions of the row id (a retried task or
    a regenerated dir is bit-identical)."""
    from hubsit_health_analytics_etl_spark.sources.synthetic import register

    os.makedirs(out_dir, exist_ok=True)
    register(spark)
    (
        spark.read.format("synthetic_docs")
        .option("rows", n_docs)
        .option("vocab", VOCAB)
        .option("partitions", 32)
        .load()
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    def h(salt: str, mod: int) -> str:
        return (
            f"cast(conv(substr(md5(concat('{salt}', cast(id as string))), 1, 8),"
            f" 16, 10) as bigint) % {mod}"
        )

    (
        spark.range(0, n_events, 1, 32)
        .select(
            F.col("id").alias("event_id"),
            F.expr(
                "cast(timestamp_micros(1500000000000000 + id * 1000000)"
                " as timestamp_ntz)"
            ).alias("ts"),
            F.expr(h("u", n_users)).alias("user_id"),
            F.expr(f"concat('type_', {h('t', 5)})").alias("event_type"),
            F.expr(f"({h('v', 100000)}) / 100.0").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )

    # orders + lineitem (the columns the theta / graph / basket scale
    # queries read), same md5-pure-function discipline: custkeys,
    # partkeys, suppkeys and dates all derive from the row id, and the
    # key spaces scale WITH the order volume so degree distributions —
    # the cost drivers of the graph families — keep their shape.
    n_cust, n_part, n_supp = max(n_orders // 10, 10), max(n_orders // 8, 8), max(n_orders // 150, 5)
    (
        spark.range(0, n_orders, 1, 32)
        .select(
            F.col("id").alias("o_orderkey"),
            F.expr(h("oc", n_cust)).alias("o_custkey"),
            F.expr(
                f"timestamp(date_add(date'1995-01-01', cast({h('od', 2436)} as int)))"
            ).alias("o_orderdate"),
            F.expr(f"({h('op', 100000)}) / 100.0 + 1000.0").alias("o_totalprice"),
            F.expr(
                f"concat(cast(1 + {h('opr', 5)} as string), '-PRIORITY')"
            ).alias("o_orderpriority"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )
    (
        spark.range(0, n_orders * 4, 1, 32)
        .select(
            F.expr("id div 4").alias("l_orderkey"),
            F.expr(h("lp", n_part)).alias("l_partkey"),
            F.expr(h("ls", n_supp)).alias("l_suppkey"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lineitem.parquet"))
    )

    from hubsit_health_analytics_etl_spark.operators.similarity import EMBED_DIM

    (
        spark.range(0, n_vecs, 1, 32)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {EMBED_DIM}), i -> cast("
                "(cast(conv(substr(md5(concat('e', cast(id as string), '|',"
                " cast(i as string))), 1, 8), 16, 10) as bigint) % 2000 - 1000)"
                " / 1000.0 as float))"
            ).alias("embedding"),
            F.expr(h("lb", 8)).cast("int").alias("label"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )


def invariants(spark, sf_dir: str) -> dict:
    """The two scale invariants, measured outside the timed loop."""
    from pyspark.sql import Observation

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        connected_components,
    )
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        MINHASH_BUCKET_CAP,
        exact_dup_edges,
        minhash_candidates,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        JACCARD_THRESHOLD,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    # drop-rate pass: the Observation needs a DIRECT action on the
    # observed frame (consuming it through union+CC materializations
    # loses the observed row)
    obs = Observation("scale_lsh")
    minhash_candidates(
        docs,
        bucket_cap=MINHASH_BUCKET_CAP,
        pre_exact_dedup=True,
        observation=obs,
    ).count()
    try:
        dropped = obs.get.get("dropped_members", 0) or 0
    except Exception:
        # the documented AQE caveat: if NO bucket survives the >1
        # filter the observed subtree never executes and the
        # observation row is absent — zero drops by construction
        dropped = 0
    near = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    edges = near.unionByName(exact_dup_edges(docs))
    stats: dict = {}
    n_components = (
        connected_components(edges, stats=stats)
        .select("component")
        .distinct()
        .count()
    )
    # jaccard-prefix candidate volume (VERDICT r13 #4): the 12.5x
    # wall-clock ratio at 100x is explained iff candidates track the
    # true near-dup pair count (both data properties), not |docs|**2
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
    )

    jobs = Observation("scale_jaccard_prefix")
    n_true_pairs = jaccard_prefix_filter_pairs(
        docs, 3, 10, observation=jobs
    ).count()
    try:
        n_cand = int(jobs.get.get("n_candidates", 0) or 0)
    except Exception:
        n_cand = 0
    return {
        "n_docs": n_docs,
        "cc_rounds": stats.get("n_rounds"),
        "n_components": n_components,
        "lsh_dropped_members": int(dropped),
        "lsh_drop_rate": round(dropped / n_docs, 5),
        "jaccard_prefix_candidates": n_cand,
        "jaccard_prefix_true_pairs": int(n_true_pairs),
    }


FIXED_BATCH_DOCS = 500


def lifecycle_fixed_batch(spark, sf_dir: str) -> dict:
    """The batch-proportionality invariant for the dataset-lifecycle
    splice (VERDICT r14 #5): the registered llm_dataset_* queries take
    a PERCENTAGE batch (grows with the corpus), so their time ratios
    track the corpus and cannot distinguish cost ∝ batch from cost ∝
    corpus. Here the batch is FIXED at {FIXED_BATCH_DOCS} docs while
    the standing corpus scales 1x/10x/100x: the splice stages' wall
    clock and the changed-doc count should stay ≈ flat (the standing
    tables are only probed/anti-joined, never re-processed); the
    export tail is corpus-∝ BY CONTRACT (the output IS the full dump)
    and is timed separately so the two shapes stay distinguishable."""
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w18_dataset_increment import (
        _build_llm_standing,
        _export_verified,
        _retrain_and_reprice,
        _scrub_splice,
        _splice_selection,
    )
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        bpe_word_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") < FIXED_BATCH_DOCS
    # standing fixture over corpus-minus-fixed-batch (untimed; owned
    # across ingests in production)
    paths = _build_llm_standing(
        spark, sf_dir, ~is_batch, f"scale_fixed_{os.path.basename(sf_dir)}"
    )
    batch = docs.filter(is_batch)
    rd = spark.read.parquet

    t0 = time.perf_counter()
    dlt: dict = {}
    sel_new = _splice_selection(spark, docs, paths, batch, delta=dlt)
    skept_new, dwc_new, changed, _ = _scrub_splice(
        spark, docs, paths, rd(paths["sel"]), sel_new, delta=dlt
    )
    n_changed = changed.count()
    skept_new.write.format("noop").mode("overwrite").save()
    dwc_new.write.format("noop").mode("overwrite").save()
    splice_secs = round(time.perf_counter() - t0, 3)

    t1 = time.perf_counter()
    rwf_union = (
        rd(paths["rwf"])
        .unionByName(bpe_word_table(spread(batch)))
        .groupBy("word")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=False)
    )
    tokd = _retrain_and_reprice(rwf_union, skept_new, dwc_new)
    n_dump = _export_verified(spark, tokd, "scale_fixed_dump").count()
    tail_secs = round(time.perf_counter() - t1, 3)
    return {
        "fixed_batch_docs": FIXED_BATCH_DOCS,
        "n_changed_docs": n_changed,
        "splice_secs": splice_secs,
        "retrain_export_secs": tail_secs,
        "n_dump_rows": n_dump,
    }


def timed_pass(spark, sf_dir: str) -> dict:
    from hubsit_health_analytics_etl_spark.workload import PREPARES, QUERIES

    for name in SCALE_QUERIES:
        if name in PREPARES:
            PREPARES[name](spark, sf_dir)
    timings = {}
    for name in SCALE_QUERIES:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def main() -> int:
    from hubsit_health_analytics_etl_spark.session import get_spark

    spark = get_spark(app_name="hubsit-bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")

    root = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        os.path.join(tempfile.gettempdir(), "hubsit_scale_corpora"),
    )
    mults = [
        int(m) for m in os.environ.get(
            "SPARK_GRAFT_SCALE_MULTS", f"1,{SCALE}"
        ).split(",")
    ]
    grids = {}
    for mult in mults:
        tag = "base" if mult == 1 else f"x{mult}"
        d = os.path.join(root, tag)
        # v3: orders gained o_orderpriority for the SCD2 scale rows
        # (v2 added orders/lineitem) — older dirs regenerate
        marker = os.path.join(d, "_complete_v3")
        if not os.path.exists(marker):
            shutil.rmtree(d, ignore_errors=True)
            gen_corpus(
                spark, d,
                BASE_DOCS * mult, BASE_EVENTS * mult,
                BASE_VECS * mult, BASE_USERS * mult,
                BASE_ORDERS * mult,
            )
            open(marker, "w").close()
        inv = invariants(spark, d)
        inv["lifecycle_fixed_batch"] = lifecycle_fixed_batch(spark, d)
        timings = timed_pass(spark, d)
        grids[tag] = {"invariants": inv, "queries": timings,
                      "total": round(sum(timings.values()), 3)}
        print(f"[{tag}] {json.dumps(grids[tag])}", file=sys.stderr)

    tags = ["base" if m == 1 else f"x{m}" for m in mults]
    top = tags[-1]
    ratios = {
        q: round(grids[top]["queries"][q] / max(grids["base"]["queries"][q], 1e-9), 2)
        for q in SCALE_QUERIES
    }
    out = {
        "metric": "scale_grid",
        "mults": mults,
        "vocab": VOCAB,
        **{t: grids[t] for t in tags},
        f"time_ratios_{top}_over_base": ratios,
        "cc_rounds": [grids[t]["invariants"]["cc_rounds"] for t in tags],
        "lsh_drop_rates": [
            grids[t]["invariants"]["lsh_drop_rate"] for t in tags
        ],
        "n_components": [
            grids[t]["invariants"]["n_components"] for t in tags
        ],
        "fixed_batch_splice_secs": [
            grids[t]["invariants"]["lifecycle_fixed_batch"]["splice_secs"]
            for t in tags
        ],
        "fixed_batch_changed_docs": [
            grids[t]["invariants"]["lifecycle_fixed_batch"]["n_changed_docs"]
            for t in tags
        ],
        "totals": [grids[t]["total"] for t in tags],
    }
    prefix = os.environ.get("SPARK_GRAFT_SCALE_PREFIX", "r14")
    path = os.path.join(
        HERE, "bench_evidence", f"{prefix}_scale_grid_{'_'.join(tags)}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in (
        "metric", "mults", f"time_ratios_{top}_over_base",
        "cc_rounds", "lsh_drop_rates",
        "fixed_batch_splice_secs", "fixed_batch_changed_docs",
        "totals")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
