"""Connected components over a pair list — duplicate-cluster
resolution for dedup pipelines.

MinHash/Jaccard emit PAIRS (a,b); a training-data pipeline needs
CLUSTERS ("keep one doc per duplicate group"), i.e. connected
components of the pair graph. Implemented as iterative minimum-label
propagation on DataFrames: each node adopts the smallest id reachable
in one hop; converges in O(diameter) ≤ O(log n) iterations for the
short chains dedup graphs produce.

Iterative (driver-side loop over lazy plans) → not expressible as one
SQL query, so the workload registration is rows-only; correctness is
pinned by unit tests on crafted graphs. At scale: each iteration is a
self-join + groupBy min on (node, label) — shuffle on node ids; every
round truncates lineage through ``concurrency.materialize`` (reliable
``checkpoint`` when the session has a checkpoint directory,
``localCheckpoint`` otherwise).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .concurrency import materialize

# Broadcast guard for the edge-splice's COMPONENT-bounded membership
# frame (ADVICE r16 medium): (node, component) rows ≈ 16 B, so 1M
# rows ≈ 16 MB of driver/executor broadcast — fixture-scale splices
# always take the fast path; a batch edge touching a mega-cluster
# (skewed near-duplicate distributions) falls back to shuffle
# semi-joins instead of OOMing the driver. See SCALING.md.
SPLICE_MEMBER_BCAST_CAP = 1_000_000


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    compress: bool = True,
    stats: "dict | None" = None,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min
    node id of its connected component.

    Per-round cost engineering (each round is driver-sequenced, so
    rounds × per-round jobs is the whole latency):

    - the convergence check rides INSIDE the propagated frame as a
      ``_changed`` flag computed before the checkpoint — detecting
      convergence is a cheap scan of the already-materialized
      partitions, not the extra labels⋈new_labels shuffle join a
      naive diff costs;
    - ``compress`` adds pointer-jumping (comp ← label(comp)) after
      each neighbor-min pass: label chains shorten geometrically, so
      long paths converge in ~log₂(diameter) rounds instead of
      diameter (one extra small self-join per round, on the label
      frame — cheap next to the edge join it saves rounds of).

    Fault tolerance: each round's labels go through
    ``concurrency.materialize``. Without a session checkpoint directory
    that is ``localCheckpoint`` — executor-local blocks, fast, but LOST
    if an executor dies. A deployment that sets one (an HDFS/S3 path)
    gets RELIABLE ``checkpoint`` instead: each round's labels persist
    to storage that survives executor loss, so a 100 TB clustering
    resumes its lineage from the last round rather than recomputing
    from the raw edge pipeline (SCALING.md "Iterative jobs").

    ``stats``: pass a dict to receive ``{"n_rounds": k}`` — the
    scale-invariant observability hook (bench_scale.py records that
    round counts stay ~log(diameter)-flat as the corpus grows 10x)."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # materialize once: every iteration joins edges — without this the
    # upstream pair-generation pipeline (e.g. the full MinHash LSH) is
    # re-executed per iteration
    edges = materialize(edges, eager=True)
    # label starts as min neighbor (including self)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("comp"))
        .select(F.col("u").alias("node"), F.least(F.col("comp"), F.col("node")).alias("comp"))
    )
    n_rounds = 0
    for _ in range(max_iter):
        n_rounds += 1
        # propagate: node takes min(own comp, neighbors' comps)
        neighbor_comp = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("ncomp"))
        )
        new_labels = (
            labels.withColumnRenamed("comp", "old")
            .join(neighbor_comp.withColumnRenamed("u", "node"), "node", "left")
            .select(
                "node",
                "old",
                F.least(F.col("old"), F.coalesce(F.col("ncomp"), F.col("old"))).alias(
                    "comp"
                ),
            )
        )
        if compress:
            # pointer jump: adopt the label OF the label, shortcutting
            # chains (at a fixed point label(root) == root, so this is
            # a no-op once converged)
            lut = new_labels.select(
                F.col("node").alias("_ln"), F.col("comp").alias("_lc")
            )
            new_labels = new_labels.join(
                lut, new_labels["comp"] == lut["_ln"], "left"
            ).select(
                "node",
                "old",
                F.least(F.col("comp"), F.coalesce(F.col("_lc"), F.col("comp"))).alias(
                    "comp"
                ),
            )
        new_labels = new_labels.select(
            "node", "comp", (F.col("comp") != F.col("old")).alias("_changed")
        )
        # the convergence probe RIDES the eager materialization job as an
        # Observation metric (one driver-sequenced action per round
        # instead of two — the checkpoint's count and a second
        # cached-scan job used to run back-to-back)
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = new_labels.observe(
            obs, F.sum(F.col("_changed").cast("long")).alias("n_changed")
        )
        new_labels = materialize(new_labels, eager=True)
        changed = int(obs.get["n_changed"] or 0)
        labels = new_labels.select("node", "comp")
        if changed == 0:
            if stats is not None:
                stats["n_rounds"] = n_rounds
            break
    else:
        # silent non-convergence would split one duplicate group into
        # several keepers with no signal — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"(graph diameter exceeds max_iter — raise it)"
        )
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster summary: one row per duplicate group (component id =
    keeper = min doc id, member count). Singleton docs (no dup edges)
    are their own keeper."""
    comps = connected_components(pairs, src, dst)
    joined = docs.select(F.col(id_col).alias("node")).join(comps, "node", "left")
    resolved = joined.select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )
    return resolved.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(id_col).alias("keeper"),
    )


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Per-document dedup DECISION table — the artifact a curation job
    actually joins against its corpus: (doc_id, component, n_members,
    keep) for EVERY document. ``component`` is the duplicate-cluster id
    (min doc id of the connected component; singletons are their own
    cluster), ``keep=1`` exactly for the per-cluster keeper (the min
    id), so ``SUM(keep)`` is the deduped corpus size and
    ``keep=0`` rows are the drop list.

    Plan shape past the (iterative) components step: one left equi-join
    of the corpus ids onto the (small — only docs WITH duplicates)
    label frame, one groupBy on the component id for sizes, one
    equi-join back. Nothing touches document text."""
    comps = connected_components(pairs, src, dst)
    joined = docs.select(F.col(id_col).alias("node")).join(comps, "node", "left")
    resolved = joined.select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )
    sizes = resolved.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return resolved.join(sizes, "component").select(
        id_col,
        "component",
        "n_members",
        (F.col(id_col) == F.col("component")).cast("bigint").alias("keep"),
    )


def dedup_keep_list_by_priority(
    docs: DataFrame,
    pairs: DataFrame,
    priority,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """:func:`dedup_keep_list` with a SOURCE-AWARE keeper rule: the
    per-cluster representative is argmin (priority, doc_id) instead of
    plain min id — what a curation job wants when duplicates span
    sources of different quality ("keep the curated copy, drop the
    crawl copy"). ``priority`` is a Column over ``docs`` (smaller =
    preferred; ties fall back to min id, so priority ≡ constant
    degrades to :func:`dedup_keep_list` exactly).

    Same plan shape: the only additions are the priority column riding
    the corpus→label join and a struct-min aggregate — the keeper
    choice costs no extra shuffle over the min-id rule."""
    comps = connected_components(pairs, src, dst)
    base = docs.select(F.col(id_col).alias("node"), priority.alias("_prio"))
    resolved = base.join(comps, "node", "left").select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
        "_prio",
    )
    keepers = resolved.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.struct("_prio", id_col)).alias("_k"),
    )
    return resolved.join(keepers, "component").select(
        id_col,
        "component",
        "n_members",
        (F.col(id_col) == F.col(f"_k.{id_col}")).cast("bigint").alias("keep"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    test_pct: int = 10,
    salt: str = "split",
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Duplicate-cluster-aware train/test split: the split decision is
    the stable hash of the document's duplicate-CLUSTER id, not of the
    document id — so exact and near duplicates always land on the same
    side and the held-out set cannot leak paraphrases of training rows
    (the contamination mode a plain per-doc hash split cannot prevent:
    with 10% eval and a duplicate pair split independently, every dup
    cluster has ~18% odds of straddling the boundary).

    Per-doc output (doc_id, component, split): ``component`` is the
    connected-component id over the duplicate-pair graph (min member
    id; singletons label themselves), ``split`` is 'test' iff the
    stable hash bucket of the component id (sampling.hash_bucket — the
    md5 rule every split in this engine uses) falls below
    ``test_pct``.

    Scale shape: everything past the (iterative) components step is one
    left equi-join of corpus ids onto the (small — only docs WITH
    duplicates) label frame plus a map-side hash — the split adds no
    shuffle over the clustering a dedup pipeline already ran. Replay-
    stable like every hash split here: membership survives reruns,
    repartitions, and engine changes (oracle replicates it exactly)."""
    from .sampling import hash_bucket

    comps = connected_components(pairs, src, dst)
    joined = docs.select(F.col(id_col).alias("node")).join(comps, "node", "left")
    resolved = joined.select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    )
    return resolved.select(
        id_col,
        "component",
        F.when(hash_bucket("component", 100, salt) < test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def incremental_dedup_clusters(
    index_labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Merge a NEW batch's duplicate edges into PERSISTED cluster
    labels without re-clustering the corpus — the cluster-maintenance
    step of an incremental ingest pipeline (the clusters analogue of
    incremental_minhash_candidates / incremental_exact_dedup).

    ``index_labels`` is the persisted (node, component) table covering
    every corpus document (component = min node id; singletons label
    themselves). ``new_edges`` are the duplicate pairs TOUCHING the
    batch (batch↔corpus and batch↔batch — what the incremental
    exact/MinHash probes emit). ``new_nodes`` is the batch's (node)
    id frame: batch docs with no duplicate edge become their own
    singleton components (omit it only when every batch doc is known
    to appear in ``new_edges``).

    Only AFFECTED components are reprocessed: components containing a
    node touched by ``new_edges``. Their old intra-component
    connectivity is preserved by STAR edges (node → component label —
    exactly equivalent to the original edge set for partition
    purposes), unioned with the new edges and re-labelled by
    :func:`connected_components`; every untouched component's labels
    pass through without a single job touching them. Because component
    ids are themselves node ids, the merged min-label is the true min
    over the merged node set — incremental output == full recompute,
    the equivalence the oracle and property tests pin.

    Scale shape: cost ∝ |affected subgraph| (typically ≈ batch-sized),
    never ∝ corpus. The touched-component probe is two equi-joins on
    the label table; at 100 TB keep ``index_labels`` partitioned by
    component so the affected-side join prunes files.
    """
    return _incremental_labels(index_labels, new_edges, new_nodes, src, dst)[0]


def forget_documents(
    index_labels: DataFrame,
    index_edges: DataFrame,
    deleted: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Right-to-be-forgotten propagation through a persisted cluster
    index: remove ``deleted`` documents (single 'node' id column) from
    the (node, component) label table, re-clustering ONLY the affected
    components — deletion is the incremental case star-edge contraction
    cannot serve, because removing a cut vertex may SPLIT a component
    (star edges route every member through the label node and would
    keep the halves spuriously connected, and the label node itself may
    be the one deleted). The REAL duplicate edges of the affected
    components are therefore re-read from the persisted pair table
    ``index_edges`` — the artifact a production dedup pipeline already
    keeps (it is the LSH probe output it persists anyway).

    Plan shape / 100 TB cost: two equi-joins on the label table find
    the affected components, two LEFT SEMI joins restrict the edge
    table to surviving affected members, and only that subgraph (≈ the
    deleted docs' duplicate clusters, not the corpus) enters the
    iterative re-label; every untouched component's labels pass through
    via one LEFT ANTI join without a job touching their text or edges.
    Keep labels AND edges partitioned by component id so both probe
    joins prune files. Deletions of docs absent from the index (never
    ingested, or already forgotten) are no-ops; survivors left with no
    edge become their own singleton components.

    Returns the updated full (node, component) label table — deleted
    ids gone, min-id component invariant restored (so a follow-up
    :func:`incremental_dedup_clusters` merge composes with it)."""
    # lineage truncation on every fan-out node (the splice_cluster_edges
    # recipe): the deleted-id set feeds the comps probe AND two edge
    # semi-joins, survivors feed both semi-joins + the relabel — without
    # the lazy checkpoints each consumer re-derived its subtree
    d = (
        deleted.select(F.col(deleted.columns[0]).alias("node"))
        .distinct()
        .transform(materialize)
    )
    affected_comps = (
        d.join(index_labels, "node")
        .select("component")
        .distinct()
        .transform(materialize)  # consumers: affected, unaffected anti
    )
    affected = index_labels.join(affected_comps, "component")
    survivors = affected.select("node").join(
        d, "node", "left_anti"
    ).transform(materialize)  # consumers: edge semi ×2 + relabel
    e = index_edges.select(F.col(src).alias("doc_a"), F.col(dst).alias("doc_b"))
    e = e.join(
        survivors.select(F.col("node").alias("doc_a")), "doc_a", "left_semi"
    ).join(survivors.select(F.col("node").alias("doc_b")), "doc_b", "left_semi")
    sub_labels = connected_components(e, "doc_a", "doc_b")
    relabelled = survivors.join(sub_labels, "node", "left").select(
        "node",
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    ).transform(materialize)  # consumers: full union + caller joins
    unaffected = index_labels.join(affected_comps, "component", "left_anti")
    return unaffected.select("node", "component").unionByName(relabelled)


def splice_cluster_edges(
    index_labels: DataFrame,
    index_edges: DataFrame,
    new_edges: DataFrame,
    removed_edges: DataFrame | None = None,
    new_nodes: DataFrame | None = None,
    src: str = "doc_a",
    dst: str = "doc_b",
    delta: "dict | None" = None,
) -> DataFrame:
    """Incremental label maintenance under edge ADDITIONS and
    REMOVALS in one pass — the general splice the dataset-build
    incremental needs: a new ingest batch both adds duplicate edges
    (batch↔corpus, batch↔batch) and can RETRACT standing edges (an
    LSH bucket crossing its cap at union time withdraws the pairs it
    alone supported).

    Additions alone are served by :func:`incremental_dedup_clusters`
    (star-edge contraction); removals alone by
    :func:`forget_documents`. Mixed changes need the forget-style
    shape for BOTH: a removed edge may be a bridge, so affected
    components must be rebuilt from the REAL persisted pair table
    ``index_edges`` (canonical ``src < dst``), never from star edges
    (which would keep split halves spuriously connected).

    Affected components = components containing an endpoint of any
    added or removed edge (plus ``new_nodes``, the batch ids absent
    from the index — singletons if untouched by edges). Those members'
    real edges, minus ``removed_edges``, plus ``new_edges``, re-label
    through :func:`connected_components`; every other component's
    labels pass through untouched. Component ids are min node ids, so
    the spliced table equals the full recompute — the invariant the
    dataset-build oracle hash-checks.

    Scale shape (standing-corpus-independent): the label and edge
    tables are only SCANNED — every probe broadcasts the delta-bounded
    side (touched nodes, affected components, affected members), so no
    corpus-∝ shuffle exists anywhere; the iterative re-label runs on
    the affected subgraph only (≈ batch-sized). The broadcast hints
    encode the splice contract — changed edges ≪ corpus (SCALING.md).
    Keep labels and edges partitioned by component so the scans also
    prune files.

    ``delta`` (optional dict): receives ``relabelled`` (exactly the
    rows that may differ from ``index_labels``) and
    ``affected_comps`` — what an incremental consumer (the dataset-
    build selection splice) needs to bound ITS work to changed rows
    instead of re-deriving the diff from two corpus-sized frames."""
    e_add = new_edges.select(F.col(src).alias("doc_a"), F.col(dst).alias("doc_b"))
    if removed_edges is not None:
        e_rm = removed_edges.select(
            F.col(src).alias("doc_a"), F.col(dst).alias("doc_b")
        )
        e_delta = e_add.unionByName(e_rm)
    else:
        e_rm = None
        e_delta = e_add
    # broadcast-scan plans have no shuffle files to reuse across
    # re-executions — every fan-out node truncates its lineage
    touched = (
        e_delta.select(F.col("doc_a").alias("node"))
        .union(e_delta.select(F.col("doc_b").alias("node")))
        .distinct()
        .transform(materialize)
    )
    # label lookup for touched nodes: broadcast-probe the label SCAN,
    # then outer-map the (small) touched set over the (small) hits —
    # never a small-left/huge-right outer join
    touched_hits = index_labels.join(F.broadcast(touched), "node")
    affected_comps = (
        touched.join(F.broadcast(touched_hits), "node", "left")
        .select(F.coalesce(F.col("component"), F.col("node")).alias("component"))
        .distinct()
        .transform(materialize)
    )
    affected = index_labels.join(
        F.broadcast(affected_comps), "component"
    ).transform(materialize)
    # ADVICE r16 medium: `affected` is COMPONENT-size bounded, not
    # batch-bounded — one batch edge touching a giant near-duplicate
    # cluster pulls the whole component in. Probe its size (the count
    # doubles as the eager materialization of the checkpoint every
    # consumer shares) and demote the membership broadcast to a
    # shuffle semi-join past the cap; the skew assumption and this
    # fallback are documented in SCALING.md. touched/affected_comps
    # stay broadcast — those are delta-bounded by construction.
    n_members = affected.count()
    bcm = (
        F.broadcast
        if n_members <= SPLICE_MEMBER_BCAST_CAP
        else (lambda df: df)
    )
    e = index_edges.select(F.col(src).alias("doc_a"), F.col(dst).alias("doc_b"))
    e = e.join(
        bcm(affected.select(F.col("node").alias("doc_a"))),
        "doc_a",
        "left_semi",
    )
    if e_rm is not None:
        e = e.join(F.broadcast(e_rm), ["doc_a", "doc_b"], "left_anti")
    # materialize the (affected-size) subgraph before the iterative
    # re-label: connected_components re-joins its edge input every
    # pointer-jumping round, and an unmaterialized sub_edges would
    # re-SCAN the corpus-sized persisted edge table per round — the
    # one corpus-∝ term the r16 attribution found left in the splice
    sub_edges = e.unionByName(e_add).transform(materialize)
    sub_labels = connected_components(sub_edges, "doc_a", "doc_b")
    all_nodes = affected.select("node").union(touched)
    if new_nodes is not None:
        all_nodes = all_nodes.union(new_nodes.select("node"))
    relabelled = (
        all_nodes.distinct()
        .join(sub_labels, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
        .transform(materialize)  # consumers: return union + delta
    )
    unaffected = index_labels.join(
        F.broadcast(affected_comps), "component", "left_anti"
    )
    if delta is not None:
        delta["relabelled"] = relabelled
        delta["affected_comps"] = affected_comps
    return unaffected.select("node", "component").unionByName(relabelled)


def _incremental_labels(
    index_labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None,
    src: str,
    dst: str,
) -> tuple[DataFrame, DataFrame]:
    """(full updated labels, delta) — delta is just the re-labelled
    (affected ∪ batch) rows, what an incremental sink persists per
    micro-batch instead of rewriting the corpus-sized label table."""
    # every fan-out node truncates its lineage (lazy materialize,
    # the splice_cluster_edges recipe): new_edges is typically the full
    # incremental exact/MinHash PROBE PIPELINE (corpus-wide md5/shingle
    # compute) and is consumed by touched + sub_edges + — through the
    # returned frames — the caller's sizes join; without the
    # checkpoints each consumer re-executed the probe from scratch
    # (broadcast-scan plans have no shuffle files to reuse)
    e = (
        new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .transform(materialize)
    )
    touched = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct().transform(materialize)  # consumers: comps, all_nodes
    # components needing a re-label: labels of touched corpus nodes;
    # batch nodes (absent from the index) count as their own component
    affected_comps = (
        touched.join(index_labels, "node", "left")
        .select(F.coalesce(F.col("component"), F.col("node")).alias("component"))
        .distinct()
        .transform(materialize)  # consumers: affected, unaffected anti
    )
    affected = index_labels.join(
        affected_comps, "component"
    ).transform(materialize)  # consumers: star, all_nodes
    star = affected.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_a"), F.col("component").alias("doc_b")
    )
    sub_edges = star.unionByName(
        e.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    sub_labels = connected_components(sub_edges, "doc_a", "doc_b")
    # nodes to re-label: all members of affected components + every
    # batch node (edge-touched or singleton)
    all_nodes = affected.select("node").union(touched)
    if new_nodes is not None:
        all_nodes = all_nodes.union(new_nodes.select("node"))
    all_nodes = all_nodes.distinct()
    relabelled = all_nodes.join(sub_labels, "node", "left").select(
        "node",
        F.coalesce(F.col("component"), F.col("node")).alias("component"),
    ).transform(materialize)  # consumers: full union + delta
    unaffected = index_labels.join(affected_comps, "component", "left_anti")
    full = unaffected.select("node", "component").unionByName(relabelled)
    return full, relabelled


def label_propagation(
    seeds: DataFrame,
    edges: DataFrame,
    rounds: int,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Semi-supervised LABEL propagation over the duplicate graph —
    the curation move that stretches a small labeled set (human
    quality ratings, license audits, toxicity reviews) across every
    near-duplicate of a labeled document: duplicates share the
    property that was labeled, so the graph IS the teacher.

    ``seeds``: (node, lab) — clamped: a seed never changes. ``edges``:
    undirected pairs (symmetrized + deduplicated here). Per round,
    every still-unlabeled node adjacent to ≥1 labeled node adopts the
    MAJORITY label of its labeled neighbors (synchronous update —
    round t sees only round t−1's labels), ties broken toward the
    smaller label. Returns (node, lab, rnd): seeds at rnd 0, adopters
    at the round they labeled; nodes never reached stay absent.

    Determinism: votes are integer counts; the winner is
    min(struct(−count, lab)) — no floats anywhere, so the whole
    propagation is hash-oracle-checkable (the fixed-round unrolled
    SQL twin), unlike weighted/float LP variants. Per round: one
    edge×labels equi-join + an anti-join + a (node, lab) count and a
    per-node struct-min — everything keyed on node ids, lineage
    truncated per round (the connected_components posture). A
    convergence-bounded variant loops until no adopter; fixed rounds
    keep the oracle expressible."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
    )
    labels = seeds.select(
        F.col("node"), F.col("lab"), F.lit(0).cast("bigint").alias("rnd")
    )
    for t in range(1, rounds + 1):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("u"), "lab"), "u"
            )
            .select(F.col("v").alias("node"), "lab")
            .join(labels.select("node"), "node", "left_anti")
            .groupBy("node", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab"))).alias(
                "s"
            )
        )
        adopted = pick.select(
            "node",
            F.col("s.lab").alias("lab"),
            F.lit(t).cast("bigint").alias("rnd"),
        )
        labels = labels.unionByName(adopted).transform(materialize, eager=True)
    return labels


def page_rank(
    edges: DataFrame,
    n_iter: int = 3,
    init_u6: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list ``(src,
    dst)`` — the canonical iterative graph metric next to
    connected_components (component identity) and label_propagation
    (attribute spread): a centrality SCORE, e.g. ranking suppliers/
    customers by co-purchase influence or duplicate-cluster exemplars
    by link mass.

    ALL-INTEGER arithmetic, cross-engine exact: ranks live in
    micro-units (init ``init_u6`` per node), each node sends
    ``rank div out_degree`` to every neighbor, and the damped update
    is ``base + (damp_num · Σcontrib) div damp_den`` with
    ``base = init·(den−num) div den`` — truncating integer division on
    positive operands is identical in Spark (`div`) and DuckDB (`//`),
    so an unrolled-CTE oracle hash-matches with no float tolerance
    (the repo's micro-unit convention; total mass decays by the
    truncation remainders, which is fine for RANKING and keeps every
    intermediate in int64: Σcontrib ≤ n·init ≈ 10¹² at 10⁶ nodes,
    ×damp_num well inside 2⁶³).

    CONTRACT: every node reachable via ``dst`` must also appear as a
    ``src`` (no dangling nodes — their mass would silently vanish).
    Symmetrize undirected graphs (union both directions) and the
    contract holds by construction.

    Scale posture: degrees are computed ONCE and the (src, dst, d)
    frame is materialized — each iteration re-reads materialized edge
    partitions instead of re-planning the upstream edge pipeline, and
    costs exactly one join shuffle (ranks×edges on src) + one agg
    shuffle (groupBy dst). The rank frame itself is not checkpointed:
    at the fixed few iterations its lineage stays short.

    No pandas analogue in the reference (898-line ETL,
    /root/reference/src/etl_pipeline.py) — beyond-reference graph
    surface."""
    # the edge list materializes FIRST: deg and edges_deg both derive
    # from its cached blocks, so the upstream edge pipeline (often a
    # full fact-table join + distinct) executes exactly once — the two
    # derived checkpoints used to each re-run it (guide §5: never
    # execute a lineage twice)
    edges = edges.select("src", "dst").transform(materialize, eager=True)
    # both standing frames materialize once: deg seeds the rank vector
    # and rides every contribution join — neither may re-plan the
    # upstream edge pipeline per iteration
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .transform(materialize, eager=True)
    )
    edges_deg = edges.join(deg, "src").transform(materialize, eager=True)
    base = (init_u6 * (damp_den - damp_num)) // damp_den
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(init_u6).cast("bigint").alias("r")
    )
    for _ in range(n_iter):
        contrib = edges_deg.join(
            ranks, edges_deg["src"] == ranks["node"]
        ).select(F.col("dst"), F.expr("r div d").alias("c"))
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("s"))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"cast({base} + ({damp_num} * s) div {damp_den} as bigint)"
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank_u6"))


def triangle_count(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Per-node triangle counts over a CANONICAL undirected edge list
    (``u < v``, deduplicated) — the cohesion member of the graph
    family: triangles measure tightly-knit groups (market-basket
    triads, duplicate-cluster density) where CC only measures
    reachability.

    Algorithm (the distributed standard): orient every edge from the
    lower-DEGREE endpoint to the higher (ties by node id), build
    wedges at each node from its out-neighbors, close them against
    the canonical edge set. Every triangle is discovered EXACTLY once
    — at its minimum-rank corner — so no division by symmetry and the
    count is exact-integer.

    Why degree orientation matters at 100 TB: out-degree after
    orientation is bounded by O(√m) on any graph (arboricity bound),
    so the wedge fan-out per node is C(out_deg, 2) with the hub's
    quadratic blow-up capped — a celebrity node with 10⁷ neighbors
    generates wedges only from the few higher-degree nodes, not 10¹⁴
    pairs. The wedge→edge close is one equi-join on the (lo, hi) pair
    key. Hot residual skew is AQE's skew-join territory (session
    default) plus the salting lever documented in SCALING.md.

    Returns (node, tri_count, degree) — degree = distinct-neighbor
    count in the canonical graph; nodes in no triangle keep
    tri_count 0 via the left join."""
    uu, vv = F.col(u), F.col(v)
    deg = (
        edges.select(uu.alias("node"))
        .unionByName(edges.select(vv.alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    # rank = (degree, node): a total order, so orientation is acyclic.
    # deg is |V|-sized — leave the join strategy to AQE (broadcasts
    # when the node table is small, shuffle-joins past the threshold)
    e = (
        edges.join(deg.withColumnRenamed("node", u).withColumnRenamed("degree", "_du"), u)
        .join(deg.withColumnRenamed("node", v).withColumnRenamed("degree", "_dv"), v)
        .select(
            uu.alias("a"),
            vv.alias("b"),
            (
                (F.col("_du") < F.col("_dv"))
                | ((F.col("_du") == F.col("_dv")) & (uu < vv))
            ).alias("_fwd"),
        )
    )
    oriented = e.select(
        F.when(F.col("_fwd"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("_fwd"), F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    w1 = oriented.select(F.col("src").alias("corner"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src").alias("corner"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "corner").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        edges.select(uu.alias("x"), vv.alias("y")), ["x", "y"]
    )
    corners = (
        closed.select(F.col("corner").alias("node"))
        .unionByName(closed.select(F.col("x").alias("node")))
        .unionByName(closed.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri_count"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("tri_count"), F.lit(0)).cast("bigint").alias("tri_count"),
            "degree",
        )
    )


def personalized_page_rank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    init_u6: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) from each seed
    node — the related-items / recommendation member of the graph
    family: global PageRank scores overall influence, PPR scores
    affinity TO A SEED, because the restart mass returns to the seed
    instead of spreading uniformly.

    ``seeds``: one column ``seed`` (node ids; must appear in the
    graph). Rank state is keyed (seed, node) and starts as the full
    mass on the seed; per iteration every (seed, node) sends
    ``rank div out_degree`` along out-edges and the restart term
    ``base = init·(den−num) div den`` lands ON THE SEED ONLY:

        r'(s, v) = (num · Σ_{u→v} r(s,u) div d(u)) div den
                   + base·[v = s]

    Same engine-exact integer arithmetic as :func:`page_rank` (one
    unrolled-CTE oracle, zero float tolerance).

    Scale posture: the rank FRONTIER stays sparse — after k
    iterations only nodes within k hops of a seed carry state, so
    |state| ≈ |seeds|·(local neighborhood), not |seeds|·|V|; the edge
    frame materializes once and is shared by every seed (one joint
    join per iteration keyed (seed, node), NOT a per-seed job). Same
    no-dangling contract as page_rank (symmetrize undirected
    graphs)."""
    # edge list first, derived frames from its cached blocks — the
    # upstream edge pipeline executes once, not once per checkpoint
    # (guide §5; the page_rank posture)
    edges = edges.select("src", "dst").transform(materialize, eager=True)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .transform(materialize, eager=True)
    )
    edges_deg = edges.join(deg, "src").transform(materialize, eager=True)
    base = (init_u6 * (damp_den - damp_num)) // damp_den
    ranks = seeds.select(
        F.col("seed"),
        F.col("seed").alias("node"),
        F.lit(init_u6).cast("bigint").alias("r"),
    )
    restart = seeds.select(
        F.col("seed"), F.col("seed").alias("node"),
        F.lit(base).cast("bigint").alias("_b"),
    )
    for _ in range(n_iter):
        contrib = edges_deg.join(
            ranks, edges_deg["src"] == ranks["node"]
        ).select(F.col("seed"), F.col("dst"), F.expr("r div d").alias("c"))
        spread = (
            contrib.groupBy("seed", "dst")
            .agg(F.sum("c").alias("s"))
            .select(
                "seed",
                F.col("dst").alias("node"),
                F.expr(f"cast(({damp_num} * s) div {damp_den} as bigint)").alias("_s"),
            )
        )
        ranks = (
            spread.join(restart, ["seed", "node"], "full_outer")
            .select(
                "seed",
                "node",
                (F.coalesce(F.col("_s"), F.lit(0)) + F.coalesce(F.col("_b"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
        )
    return ranks.select("seed", "node", F.col("r").alias("rank_u6"))


def hits_scores(
    edges: DataFrame, n_iter: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration HITS (Kleinberg 1999) over a DIRECTED edge list
    ``(src, dst)`` — the dual-score member of the graph family next to
    page_rank's single centrality: hubs point at good authorities,
    authorities are pointed at by good hubs. On a bipartite
    supplier→customer graph this separates "supplies the
    well-connected customers" (hub) from "buys from the
    well-connected suppliers" (authority), a distinction PageRank's
    symmetrized single score cannot make.

    ALL-INTEGER, cross-engine exact: hubs start at 1, each round is
    ``auth(v) = Σ_{u→v} hub(u)`` then ``hub(u) = Σ_{u→v} auth(v)`` —
    pure int64 sums, no normalization, so an unrolled-CTE DuckDB
    oracle hash-matches with zero tolerance (the page_rank
    convention). The textbook L2 normalization only rescales — it
    never changes the RANKING, which is what the top-k report
    consumes — so omitting it trades a float sqrt for exactness.
    Magnitude bound: after i rounds auth ≤ (d_out·d_in)^i ≤ m^(2i);
    with the default 2 rounds and the guard below, intermediate sums
    stay far inside int64 for any fixture SF. For deep iteration
    counts on a real cluster, rescale between rounds (integer ``div``
    by a documented constant) — the ranking is div-stable as long as
    the divisor is uniform.

    Scale posture: the edge list materializes ONCE
    (materialize) and each round costs exactly two join+agg
    shuffles; lineage is per-round flat. Returns ``(auth, hubs)`` as
    (node, score) frames — nodes with no in-(resp. out-)edges are
    absent, i.e. score 0.

    No pandas analogue in the reference (898-line ETL,
    /root/reference/src/etl_pipeline.py) — beyond-reference graph
    surface."""
    e = edges.select("src", "dst").transform(materialize, eager=True)
    hubs = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1).cast("bigint").alias("score")
    )
    auth = None
    for _ in range(n_iter):
        auth = (
            e.join(hubs, e["src"] == hubs["node"])
            .groupBy("dst")
            .agg(F.sum("score").cast("bigint").alias("score"))
            .withColumnRenamed("dst", "node")
        )
        hubs = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("score").cast("bigint").alias("score"))
            .withColumnRenamed("src", "node")
        )
    return auth, hubs


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Multi-source BFS hop distance over a directed edge list
    ``(src, dst)``: dist(v) = min #hops from ANY seed, reported for
    nodes within ``max_hops``. The reachability DISTANCE member of
    the graph family — connected_components answers "same island?",
    bfs_hops answers "how far?" (blast radius of a recall, degrees of
    separation from a flagged account, neighborhood depth around hot
    products).

    Frontier algorithm (the distributed standard): round i joins the
    round-(i−1) FRONTIER — only nodes first reached last round, never
    the whole visited set — against the once-materialized edge frame,
    then anti-joins visited, so each edge is traversed at most once
    per endpoint discovery and work per round ∝ the frontier's edge
    cut, not the graph. Exact integer distances — an unrolled-CTE
    DuckDB oracle hash-matches with zero tolerance.

    Fixed ``max_hops`` rounds keep the loop declarative (no
    driver-side convergence collect); on a real cluster an early-exit
    ``frontier.isEmpty()`` probe per round is the lever when the ball
    saturates before max_hops. One eager materialization per round —
    the newly reached frontier — keeps lineage flat; visited is the
    lazy union of the seed frame and those checkpoints, never
    re-checkpointed. Symmetrize undirected graphs before calling.

    ``seeds`` is a (node) frame; seed rows report dist 0.

    No pandas analogue in the reference (898-line ETL,
    /root/reference/src/etl_pipeline.py) — beyond-reference graph
    surface."""
    e = edges.select("src", "dst").transform(materialize, eager=True)
    visited = (
        seeds.select("node")
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("dist"))
        .transform(materialize, eager=True)
    )
    frontier = visited.select("node")
    for i in range(1, max_hops + 1):
        nbrs = (
            e.join(frontier, e["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nbrs.join(visited.select("node"), "node", "left_anti").select(
            "node", F.lit(i).cast("bigint").alias("dist")
        )
        new = materialize(new, eager=True)
        # visited stays a LAZY union of the per-round checkpointed
        # frontiers: each round's anti-join re-reads i cached block
        # sets (no recompute anywhere), which halves the per-round
        # driver-sequenced actions vs re-checkpointing the growing
        # union every round — the round count is the latency wall in
        # these loops, not the scan of tiny cached frames
        visited = visited.unionByName(new)
        frontier = new.select("node")
    return visited


def link_prediction_scores(
    edges: DataFrame, hub_cap: int | None = None
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction over a CANONICAL
    undirected edge list ``(u, v)`` with ``u < v``: score NON-adjacent
    pairs that share neighbors — the "customers who bought X also
    bought Y, but X and Y never co-occurred yet" recommendation, and
    the graph-completion primitive (PPR ranks nodes around a seed;
    this scores specific MISSING edges).

    ``cn`` = |Γ(a) ∩ Γ(b)| (exact integer); ``aa`` = Σ_z 1/ln(deg z)
    over common neighbors z (Adamic & Adar 2003 — a shared RARE
    neighbor is stronger evidence than a shared hub). A wedge center
    has degree ≥ 2, so ln(deg) > 0 always; each 1/ln is a float of
    one exact-integer degree and the per-pair sum folds the
    center-SORTED contribution array (the repo's float-sum
    discipline), so a DuckDB oracle hash-matches.

    Candidate generation is the triangle wedge expansion MINUS the
    closing edge: pairs of each center's neighbors, anti-joined
    against the edge set. The hub hazard is the same C(deg, 2) as
    triangles but orientation can't help (every common neighbor must
    be seen from its center), so the lever is ``hub_cap``: skip
    centers with deg > cap. Principled for AA — a hub's contribution
    is 1/ln(deg) → 0, so dropping the biggest centers changes scores
    least; the cap is the df-cap analog and should be sized like it.

    Returns (u, v, cn, aa) for candidate pairs; callers rank/limit.

    No pandas analogue in the reference (898-line ETL,
    /root/reference/src/etl_pipeline.py) — beyond-reference graph
    surface."""
    sym = edges.select(F.col("u").alias("z"), F.col("v").alias("n")).unionByName(
        edges.select(F.col("v").alias("z"), F.col("u").alias("n"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    adj = sym.join(deg, "z")
    if hub_cap is not None:
        adj = adj.filter(F.col("d") <= int(hub_cap))
    a = adj.select("z", "d", F.col("n").alias("na"))
    b = adj.select(F.col("z").alias("z2"), F.col("n").alias("nb"))
    wedges = a.join(b, a["z"] == b["z2"]).filter(F.col("na") < F.col("nb")).select(
        F.col("na").alias("u"), F.col("nb").alias("v"), "z", "d"
    )
    open_wedges = wedges.join(edges.select("u", "v"), ["u", "v"], "left_anti")
    return open_wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cn"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(z, d))),"
            " p -> 1.0D / ln(cast(p.d as double))), 0D, (acc, x) -> acc + x)"
        ).alias("aa"),
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling over a CANONICAL undirected edge
    list ``(u, v)``: repeatedly delete nodes of degree < k with their
    incident edges, ``rounds`` times — the dense-subgraph member of
    the graph family (triangles measure LOCAL density; the k-core is
    the maximal subgraph where EVERY member keeps ≥ k ties, the
    classic engagement/robustness cut). Returns the surviving
    (node, degree) table, degree measured in the peeled subgraph.

    Fixed rounds keep the loop declarative and the DuckDB oracle an
    unrolled CTE chain (exact integers end to end). Peeling converges
    when a round deletes nothing; real graphs converge in few rounds
    (each round needs a fresh cascade of sub-k nodes, and cascade
    chains this long are rare) — at the fixture scales 4 rounds are
    stationary, pinned in pytest by an extra-round equality. On a
    cluster, run to convergence with the CC-style isEmpty probe per
    round, or use the O(log n)-round distributed coreness algorithms
    if FULL core decomposition (every node's core number) is needed
    rather than one k-cut.

    Each round costs one degree agg + two semi-joins over the
    shrinking edge frame; per-round materialization keeps lineage
    flat (the iterative-family posture).

    No pandas analogue in the reference (898-line ETL,
    /root/reference/src/etl_pipeline.py) — beyond-reference graph
    surface."""
    e = edges.select("u", "v").transform(materialize, eager=True)
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .transform(materialize, eager=True)
        )
    return (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def bellman_ford_costs(
    edges: DataFrame, seeds: DataFrame, max_rounds: int = 3
) -> DataFrame:
    """Multi-source WEIGHTED shortest distance over a directed edge
    list ``(src, dst, w)`` with non-negative integer weights:
    cost(v) = min total weight of any path from a seed using at most
    ``max_rounds`` edges. The weighted sibling of :func:`bfs_hops`
    (hop count answers "how far?"; this answers "how costly?" when
    edges carry a real distance — routing cost, affinity distance,
    lead time).

    Delta-relaxation Bellman-Ford (the distributed standard): round i
    relaxes only edges out of nodes whose cost IMPROVED in round i−1
    (the frontier), merges candidate costs with a min-groupBy, and
    folds them into the running cost table. A node relaxed its
    out-edges in the round after it last improved, so the delta
    iterate equals the full Bellman-Ford iterate round for round —
    work per round ∝ the improved set's edge cut, not the graph.
    Exact integer costs. One eager materialization per round — the
    improved delta — keeps lineage flat; the running cost table is the
    lazy union of the seed frame and those deltas, min-merged where it
    is read (each round's improvement test and the returned table), so
    nothing is re-derived and no second action per round is spent on
    a merged copy (reliable on a cluster whose session sets a
    checkpoint directory — SCALING.md "Iterative jobs").

    No pandas analogue in the reference (898-line ETL,
    /root/reference/src/etl_pipeline.py) — beyond-reference graph
    surface."""
    e = edges.select("src", "dst", "w").transform(materialize, eager=True)
    delta = (
        seeds.select("node")
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("cost"))
        .transform(materialize, eager=True)
    )
    # lazy union of the seed frame and every checkpointed delta (the
    # bfs_hops visited posture): min-merged where read, never
    # materialized, so each round takes one eager action
    cost = delta
    for _ in range(max_rounds):
        cand = (
            e.join(delta, e["src"] == delta["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("w")).cast("bigint").alias("cand"),
            )
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        best = cost.groupBy("node").agg(F.min("cost").alias("cost"))
        delta = (
            cand.join(best, "node", "left")
            .filter(F.col("cost").isNull() | (F.col("cand") < F.col("cost")))
            .select("node", F.col("cand").alias("cost"))
            .transform(materialize, eager=True)
        )
        cost = cost.unionByName(delta)
    return cost.groupBy("node").agg(F.min("cost").alias("cost"))
