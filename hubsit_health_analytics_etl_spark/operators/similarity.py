"""Similarity search over an embedding column (EXT).

Two paths, as a real pipeline would ship them:
- ``brute_force_topk`` — exact cosine top-k. O(Q·N): the correctness
  baseline, and the right choice when the query set is small (it
  broadcasts the queries, so the corpus never shuffles).
- ``lsh_bucket_topk`` — random-hyperplane (sign) LSH: each vector maps
  to a small integer bucket; search compares only within-bucket.
  The scale path: bucketing is map-only; the join shuffles on the
  bucket id; expected candidates/query = N / 2^n_planes.

Engine-portable determinism: the hyperplanes are literal constants
(seeded numpy, rounded to 6dp, inlined into both the Spark expression
and the SQL oracle), and dot products accumulate left-to-right in
double on both engines — empirically bitwise-identical vs DuckDB's
list_dot_product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..sources.parquet import spread
from .concurrency import materialize
from .scaleparams import ivf_cells_for, lsh_planes_for

EMBED_DIM = 64
# Plane count is DERIVED from corpus size via the scaleparams rule,
# not pinned: planes = ceil(log2(N / target_bucket)) holds the
# expected within-bucket candidate count per query at TARGET_ANN_BUCKET
# as N grows. The shipped workload queries (and their inlined SQL
# oracles) size for the 500-vector embeddings fixture, where the rule
# yields 4 planes / 16 buckets — production callers pass their own
# corpus size via ``n_rows`` (or ``planes`` directly).
FIXTURE_EMBED_ROWS = 500
TARGET_ANN_BUCKET = 32
N_PLANES = lsh_planes_for(FIXTURE_EMBED_ROWS, TARGET_ANN_BUCKET)  # = 4


def _hyperplanes(n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    rng = np.random.RandomState(42)
    return [[round(float(x), 6) for x in rng.randn(dim)] for _ in range(n_planes)]


HYPERPLANES = _hyperplanes()


def dot_expr(a: str, b: str) -> Column:
    """Σ a[i]·b[i] in double, sequential accumulation (matches DuckDB
    list_dot_product bitwise)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"0D, (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> Column:
    return F.expr(
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
        f"0D, (acc, v) -> acc + v))"
    )


def _plane_literal(plane: list[float]) -> str:
    return "array(" + ", ".join(f"cast({x} as double)" for x in plane) + ")"


def planes_for_corpus(n_rows: int) -> list[list[float]]:
    """Hyperplanes sized for a corpus of ``n_rows`` via the scaleparams
    rule — expected bucket size stays ≈ TARGET_ANN_BUCKET as N grows
    (the fixture default N_PLANES is this rule at FIXTURE_EMBED_ROWS)."""
    return _hyperplanes(lsh_planes_for(n_rows, TARGET_ANN_BUCKET))


def lsh_bucket_expr(
    vec: str,
    planes: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> Column:
    """Sign-LSH bucket id: bit j = 1 iff dot(vec, plane_j) > 0.

    Pass ``n_rows`` (corpus size or catalog estimate) to derive the
    plane count from the scaleparams rule; with neither ``planes`` nor
    ``n_rows`` the fixture-scale default applies."""
    if planes is None and n_rows is not None:
        planes = planes_for_corpus(n_rows)
    planes = planes or HYPERPLANES
    terms = []
    for j, p in enumerate(planes):
        d = (
            f"aggregate(zip_with({vec}, {_plane_literal(p)}, "
            f"(x, y) -> cast(x as double) * y), 0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(case when {d} > 0 then {1 << j} else 0 end)")
    return F.expr("cast(" + " + ".join(terms) + " as int)")


def sql_lsh_bucket(
    vec: str,
    planes: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> str:
    """DuckDB twin of lsh_bucket_expr (list_dot_product on literal
    double arrays); same plane derivation so both sides stay in step."""
    if planes is None and n_rows is not None:
        planes = planes_for_corpus(n_rows)
    planes = planes or HYPERPLANES
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(str(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec}::DOUBLE[], {lit}) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


MAX_BROADCAST_QUERIES = 10_000


def _broadcast_if_small(
    probe: DataFrame, q: DataFrame, max_rows: int | None, divisor: int = 1
) -> DataFrame:
    """Broadcast ``q`` only when ``probe`` (a cheap stand-in with the
    same row count — e.g. the filtered corpus scan, before any bucket/
    norm compute) is provably small: ≤ ``max_rows // divisor`` rows.

    Above the threshold the hint is simply DROPPED — every caller joins
    on an equi-key (bucket / cell), so the planner falls back to a
    shuffled hash / sort-merge join instead of OOMing executors on an
    oversized broadcast (brute_force_topk, whose join is non-equi,
    raises instead — there is no graceful fallback for a nested loop).
    ``max_rows=None`` waives the probe and force-broadcasts."""
    if max_rows is None:
        return F.broadcast(q)
    cap = int(max_rows) // max(int(divisor), 1)
    if probe.limit(cap + 1).count() > cap:
        return q
    return F.broadcast(q)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Exact top-k neighbors per query (self excluded): broadcast the
    query set, rank by (cosine desc, id) with a 9dp rounding before
    ranking so cross-engine last-ulp noise can't flip ranks.

    The contract is a SMALL query set — it is broadcast to every
    executor and nested-loop-joined against the corpus. ``max_queries``
    makes misuse fail loudly instead of OOMing executors: the guard
    probe is ``limit(max+1).count()``, cheap even when the input is
    huge. Pass ``None`` to waive (e.g. a caller that just counted)."""
    if max_queries is not None:
        probe = queries.limit(int(max_queries) + 1).count()
        if probe > int(max_queries):
            raise ValueError(
                f"brute_force_topk broadcasts the query set; got more than "
                f"{max_queries} query rows — use lsh_bucket_topk/ivf_topk for "
                f"large query sets, or raise max_queries deliberately"
            )

    # norms precomputed once per vector (identical expression → same
    # bits as inline recomputation), so each pair costs ONE array
    # aggregate instead of three
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_expr(vec_col).alias("q_norm"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col).alias("c_norm"),
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 9).alias(
            "cosine"
        ),
    )
    from .reshape import top_k

    ranked = top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
    )
    return ranked.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: Column | None = None,
    max_broadcast_queries: int | None = MAX_BROADCAST_QUERIES,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within the same sign-LSH bucket.
    Map-only bucketing + equi-join on bucket — no O(N²) pair explosion.
    Queries in singleton buckets return no rows (honest ANN recall).

    The query side broadcasts only while it is provably small
    (``max_broadcast_queries`` guard, probed on the filtered corpus
    scan — filter pushdown + limit keep the probe cheap). A large
    query set — including ``query_filter=None``, the all-vectors
    self-search — silently keeps the scalable shape instead: a
    shuffled equi-join on the bucket id."""
    bucketed = spread(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket_expr(vec_col, n_rows=n_rows).alias("bucket"),
        norm_expr(vec_col).alias("nrm"),
    )
    q = bucketed.filter(query_filter if query_filter is not None else F.lit(True)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "bucket",
        F.col("nrm").alias("q_norm"),
    )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "bucket",
        F.col("nrm").alias("c_norm"),
    )
    q_probe = corpus.filter(
        query_filter if query_filter is not None else F.lit(True)
    )
    pairs = c.join(
        _broadcast_if_small(q_probe, q, max_broadcast_queries), "bucket"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "bucket",
        "neighbor_id",
        F.round(dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 9).alias(
            "cosine"
        ),
    )
    from .reshape import top_k

    ranked = top_k(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )
    return ranked.select(
        "query_id", "bucket", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def label_mean_centroids(corpus: DataFrame, id_col="vec_id", vec_col="embedding",
                         label_col="label", scale: int = 6) -> DataFrame:
    """IVF 'training' stand-in: one centroid per label = element-wise
    mean embedding, ROUNDED so the centroid is identical across
    engines/partitionings (raw float sums are order-dependent in their
    last bits; rounding to 6dp makes the coarse quantizer stable).
    Returns (label, centroid array<double>)."""
    per_dim = (
        corpus.select(label_col, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(label_col, "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), scale).alias("cval"))
    )
    return per_dim.groupBy(label_col).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, cval))), s -> s.cval)").alias(
            "centroid"
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    scale: int = 6,
) -> DataFrame:
    """Real IVF trainer: seeded Spark ML KMeans over the embedding
    column. Returns (cell, centroid array<double>) — the same contract
    as :func:`label_mean_centroids`, so it plugs straight into
    :func:`ivf_topk` via the ``centroids`` parameter.

    Centroids are rounded to ``scale`` dp for the same reason as the
    label-mean path (partition-order float noise must not move a cell
    boundary between runs). Training itself is Spark ML's distributed
    Lloyd iterations — no driver-side data pass beyond the k centers.
    Not oracle-matched (k-means results are engine-specific); quality
    is asserted as recall-vs-brute-force in tests instead.

    ``n_cells=None`` derives the cell count from the corpus size via
    the scaleparams rule (4·√N — FAISS working rule); pass an explicit
    value only for pinned harnesses like the fixture recall sweep.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_cells is None:
        n_cells = ivf_cells_for(corpus.count())
    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="features"
    ).fit(feats)
    centers = [
        (i, [round(float(x), scale) for x in c])
        for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        centers, "cell int, centroid array<double>"
    )


def _ranked_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Every vector scored against the (small, broadcast) centroid
    table, cells ranked per vector by (cosine desc, cell): rn == 1 is
    the home-cell assignment, rn <= nprobe the query probe set.
    Centroid norms are computed once on the C-row table, not per
    (vector, centroid) pair; the 9dp rounding keeps cell boundaries
    identical across engines/partitionings."""
    from pyspark.sql import Window

    cents = centroids.select("cell", "centroid", norm_expr("centroid").alias("c_nrm"))
    base = spread(vectors).select(id_col, vec_col, norm_expr(vec_col).alias("nrm"))
    scored = base.crossJoin(F.broadcast(cents)).select(
        id_col,
        vec_col,
        "nrm",
        "cell",
        F.round(
            dot_expr(vec_col, "centroid") / (F.col("nrm") * F.col("c_nrm")), 9
        ).alias("ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cell").asc())
    return scored.withColumn("rn", F.row_number().over(w))


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The PERSISTABLE IVF index for a vector corpus: returns
    (centroids, assignments) — write both to parquet once, then search
    every new batch against them without re-assigning the corpus.

    - ``centroids`` (cell, centroid array<double>): the coarse
      quantizer (label-mean by default, :func:`kmeans_centroids` for a
      trained one). The label-mean training runs ONCE, here, into an
      eager checkpoint of its C rows — the quantizer is a model, not
      data — so the centroid write and every assignment read that one
      evaluation instead of re-deriving it from the corpus scan.
    - ``assignments`` (vec_id, embedding, nrm, cell): each corpus
      vector in its home cell with its precomputed norm, lazy. At
      scale, partition the files by ``cell`` so a query batch reads
      only the cells it probes.
    """
    if centroids is None:
        centroids = (
            label_mean_centroids(corpus, id_col, vec_col, label_col)
            .select(F.col(label_col).alias("cell"), "centroid")
            .transform(materialize, eager=True)
        )
    assigned = (
        _ranked_cells(corpus, centroids, id_col, vec_col)
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "nrm", "cell")
    )
    return centroids, assigned


def ivf_forget_vectors(
    assignments: DataFrame,
    deleted: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Right-to-be-forgotten for a persisted, cell-partitioned IVF
    index: rewrite ONLY the cells containing a deleted vector, via
    dynamic partition overwrite — the deletion primitive for
    partitioned indexes (cost ∝ affected cells' postings, never the
    corpus; untouched cell directories are not read or written).
    Centroids stay FROZEN (same contract as incremental inserts — the
    coarse quantizer is a model, not data; deleting members does not
    move it).

    ``assignments`` must be the LOGICAL frame the index was written
    from (or a checkpoint) — not a read of ``path`` itself, which
    Spark cannot overwrite mid-read. The distinct deleted ids are
    checkpointed, then ONE guard job aggregates per cell over
    ``assignments`` left-joined with the broadcast ids and collects
    the affected cells (≤ C rows): how many postings each holds and
    how many of them are deleted. Fails loudly if a deletion would
    EMPTY a cell: dynamic overwrite only replaces partitions present
    in the write, so an emptied cell would silently keep stale files —
    callers hitting this rewrite the full index (or tombstone) instead.
    Deleted ids absent from the index touch no file.
    """
    spark = assignments.sparkSession
    ids = (
        deleted.select(F.col(deleted.columns[0]).alias(id_col))
        .distinct()
        .transform(materialize, eager=True)
    )
    per_cell = (
        assignments.join(F.broadcast(ids.withColumn("_del", F.lit(1))), id_col, "left")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.count("_del").alias("n_del"))
        .filter(F.col("n_del") > 0)
        .collect()
    )
    n_emptied = sum(r["n_del"] == r["n"] for r in per_cell)
    if n_emptied:
        raise RuntimeError(
            f"ivf_forget_vectors would empty {n_emptied} cell(s): "
            "dynamic partition overwrite cannot delete a partition — "
            "rewrite the index (or tombstone the cell) instead"
        )
    affected = [r["cell"] for r in per_cell]
    if not affected:
        return
    remainder = assignments.filter(F.col("cell").isin(affected)).join(
        F.broadcast(ids), id_col, "left_anti"
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        remainder.write.mode("overwrite").partitionBy("cell").parquet(path)
    finally:
        spark.conf.set(conf_key, old)


def ivf_search_index(
    index_assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    max_broadcast_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Search a persisted IVF index with a NEW query batch: only the
    batch is assigned to cells (map-only vs the broadcast persisted
    centroids); candidates come from an equi-join against the index
    postings on the cell id. The corpus is never re-scored. Returns
    (query_id, cell, neighbor_id, cosine, rank) — neighbors are index
    members only, so a query vector never matches itself or its own
    batch.

    The probe side broadcasts only while the batch is provably small
    (≤ ``max_broadcast_queries`` / nprobe rows — each query expands to
    ``nprobe`` probe rows); an oversized batch falls back to a
    shuffled equi-join on the cell id instead of OOMing executors."""
    from .reshape import top_k

    q = (
        _ranked_cells(queries, centroids, id_col, vec_col)
        .filter(F.col("rn") <= int(nprobe))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("nrm").alias("q_norm"),
            "cell",
        )
    )
    c = index_assignments.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    pairs = c.join(
        _broadcast_if_small(queries, q, max_broadcast_queries, divisor=nprobe), "cell"
    )
    scored = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        F.round(dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 9).alias(
            "cosine"
        ),
    )
    ranked = top_k(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )
    return ranked.select(
        "query_id", "cell", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def ivf_topk(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_filter: Column | None = None,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    max_broadcast_queries: int | None = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """IVF-flavored ANN: assign every vector to its nearest centroid
    cell (argmax cosine vs the small broadcast centroid table), then
    search only within the cell. Map-only assignment + equi-join on
    the cell id — the candidate set per query is |cell| ≈ N/n_cells.

    ``centroids`` (cell, centroid array<double>) selects the coarse
    quantizer: :func:`kmeans_centroids` for a trained one, default is
    the deterministic label-mean stand-in.

    ``nprobe`` is the classic IVF recall knob: each QUERY searches its
    ``nprobe`` nearest cells (corpus vectors stay single-cell
    assigned, so the index is unchanged) — candidate set and recall
    grow ≈ linearly, the join stays an equi-join on the cell id. A
    (query, neighbor) pair can only arise in the neighbor's one home
    cell, so no dedup pass is needed.

    The query side broadcasts only while provably small (probed on the
    filtered corpus scan against ``max_broadcast_queries`` / nprobe);
    above that the cell join falls back to a shuffled equi-join —
    including ``query_filter=None``, the every-vector self-search."""
    from .reshape import top_k

    if centroids is None:
        centroids = label_mean_centroids(corpus, id_col, vec_col, label_col).select(
            F.col(label_col).alias("cell"), "centroid"
        )
    ranked_cells = _ranked_cells(corpus, centroids, id_col, vec_col)
    assigned = ranked_cells.filter(F.col("rn") == 1).select(
        id_col, vec_col, "nrm", "cell"
    )
    q = ranked_cells.filter(
        (F.col("rn") <= int(nprobe))
        & (query_filter if query_filter is not None else F.lit(True))
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    q_probe = corpus.filter(
        query_filter if query_filter is not None else F.lit(True)
    )
    pairs = c.join(
        _broadcast_if_small(q_probe, q, max_broadcast_queries, divisor=nprobe), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        F.round(dot_expr("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm")), 9).alias(
            "cosine"
        ),
    )
    ranked = top_k(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )
    return ranked.select(
        "query_id", "cell", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN path. A D-dim vector
# is carved into M subvectors; each is replaced by the id of its
# nearest per-subspace centroid — M small ints instead of D floats
# (64×float64 → 8 codes here). Search decompresses nothing: asymmetric
# distances are summed from per-subspace lookup tables.
# ---------------------------------------------------------------------------
PQ_M = 8          # subspaces
PQ_SUB_DIM = EMBED_DIM // PQ_M


def pq_codebooks_label_mean(
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    m: int = PQ_M,
    sub_dim: int = PQ_SUB_DIM,
    scale: int = 6,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: per-subspace centroids are the
    label-mean subvectors, rounded to ``scale`` dp (same cross-engine
    posture as label_mean_centroids — partition-order float noise must
    not move an assignment). Returns ``codebooks[s][k] -> centroid``
    (k indexes labels in ascending order), collected to the driver:
    M·K·sub_dim floats are the MODEL, not data — the same contract as
    kmeans_centroids' cluster centers. Swap in per-subspace KMeans for
    a trained (engine-specific, rows-only) production codebook."""
    aggs = [
        F.round(F.avg(F.col(vec_col)[i]), scale).alias(f"c{i}")
        for i in range(m * sub_dim)
    ]
    rows = corpus.groupBy(label_col).agg(*aggs).orderBy(label_col).collect()
    return [
        [[float(r[f"c{s * sub_dim + i}"]) for i in range(sub_dim)] for r in rows]
        for s in range(m)
    ]


def _pq_sub_dist(vec: str, s: int, centroid: list[float], sub_dim: int) -> str:
    """SQL text: 9dp-rounded squared L2 distance between subvector s of
    ``vec`` and a literal centroid (sequential accumulation, matching
    the DuckDB twin bitwise before the rounding)."""
    lit = "array(" + ", ".join(f"cast({x} as double)" for x in centroid) + ")"
    return (
        f"round(aggregate(zip_with(slice({vec}, {s * sub_dim + 1}, {sub_dim}), {lit}, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"0D, (acc, v) -> acc + v), 9)"
    )


def pq_encode_exprs(
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    sub_dim: int = PQ_SUB_DIM,
) -> tuple[Column, Column]:
    """(codes, mse) columns encoding ``vec_col`` against literal
    codebooks — pure map-side expressions, zero shuffles, fully
    whole-stage-codegen. Per subspace the code is
    argmin (9dp squared distance, label index) via lexicographic
    struct array_min; mse is the mean of the chosen subspace distances
    over the full dimension (= reconstruction MSE), rounded 6dp."""
    best = [
        F.array_min(
            F.array(
                *[
                    F.struct(
                        F.expr(_pq_sub_dist(vec_col, s, cent, sub_dim)).alias("d"),
                        F.lit(k).alias("l"),
                    )
                    for k, cent in enumerate(cb)
                ]
            )
        )
        for s, cb in enumerate(codebooks)
    ]
    codes = F.array(*[b["l"] for b in best])
    dim = len(codebooks) * sub_dim
    mse = F.round(
        sum((b["d"] for b in best), F.lit(0.0)) / F.lit(float(dim)), 6
    )
    return codes, mse


def pq_adc_dist_expr(
    codebooks: list[list[list[float]]],
    q_vec: str = "q_vec",
    codes_col: str = "codes",
    sub_dim: int = PQ_SUB_DIM,
) -> Column:
    """Asymmetric PQ distance: exact query subvectors scored against
    the CODES' centroids — the corpus side never materializes floats,
    only its M small ints. Per subspace the centroid is looked up from
    the literal codebook by code id (element_at), distances round 9dp
    per subspace (matching the encode path) and sum in fixed subspace
    order. Map-side expression; at scale precompute per-query lookup
    tables (Q·M·K distances) and this lookup-join shape is unchanged."""
    terms = []
    for s, cb in enumerate(codebooks):
        cb_lit = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"cast({x} as double)" for x in cent) + ")"
                for cent in cb
            )
            + ")"
        )
        terms.append(
            f"round(aggregate(zip_with(slice({q_vec}, {s * sub_dim + 1}, {sub_dim}), "
            f"element_at({cb_lit}, {codes_col}[{s}] + 1), "
            f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
            f"0D, (acc, v) -> acc + v), 9)"
        )
    return F.expr("round(" + " + ".join(terms) + ", 9)")


def cross_encoder_hash_udf():
    """The rerank-model hook, executed for real: an Arrow-batched
    pandas UDF ``(query_id, neighbor_id) -> double`` scoring candidate
    pairs — the ONLY Python stage in the two-stage retrieval path, and
    it runs strictly AFTER the stage-1 candidate cut, so it sees
    ~RERANK_CANDIDATES·|queries| rows, never the corpus.

    The scorer itself is the same deterministic md5 hash fraction as
    ``sampling.hash_frac`` (int(md5(qid:nid)[:8], 16) / 2^32) computed
    in Python, so the SQL oracle covers the UDF's output bit-for-bit —
    an int < 2^32 divided by 2^32 is exact in double on both engines.
    A production cross-encoder replaces the body (tokenize + model
    forward over the Arrow batch); signature, batch shape, and plan
    position stay identical."""
    import hashlib

    @F.pandas_udf("double")
    def _score(query_id: pd.Series, neighbor_id: pd.Series) -> pd.Series:
        keys = (
            query_id.astype("int64").astype(str)
            + ":"
            + neighbor_id.astype("int64").astype(str)
        )
        return keys.map(
            lambda k: int(hashlib.md5(k.encode()).hexdigest()[:8], 16)
            / 4294967296.0
        )

    return _score


def pq_codebooks_kmeans(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    sub_dim: int = PQ_SUB_DIM,
    k: int | None = None,
    seed: int = 42,
    max_iter: int = 20,
    scale: int = 6,
) -> list[list[list[float]]]:
    """TRAINED production PQ codebooks — the variant
    :func:`pq_codebooks_label_mean`'s docstring promises: per-subspace
    seeded Spark ML KMeans over the subvectors, minimizing exactly the
    quantization error PQ pays at search time (label means are a
    proxy; these are the objective). Same ``codebooks[s][k]`` return
    contract, so :func:`pq_encode_exprs` / :func:`pq_adc_dist_expr`
    consume them unchanged.

    Engine-specific like :func:`kmeans_centroids` (float reduction
    order, init sampling) → no DuckDB oracle can exist; quality is
    pinned in pytest as reconstruction-mse ≤ the label-mean codebooks'
    and ADC recall ≥ the label-mean PQ path (mirroring
    ann_kmeans_ivf_recall's posture).

    Centroids are rounded to ``scale`` dp and sorted lexicographically
    within each subspace, so code ids are stable across runs and
    independent of Spark ML's internal cluster numbering.
    ``k=None`` derives the codeword count from the corpus size via
    ``scaleparams.pq_codewords_for`` (256 = 8-bit codes once trainable;
    ≥39 train points per codeword below that). At 100 TB, train on a
    bounded sample (FAISS trains on ~1M vectors) and broadcast the
    k·M·sub_dim floats — the model, not data; the m fits each scan
    only their sub_dim slice of the sample, and they run CONCURRENTLY
    (independent Spark jobs from m driver threads share the scheduler),
    so wall-clock ≈ one fit, not m."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .scaleparams import pq_codewords_for

    if k is None:
        k = pq_codewords_for(corpus.count())

    def _fit(s: int) -> list[list[float]]:
        feats = corpus.select(
            array_to_vector(
                F.expr(f"slice({vec_col}, {s * sub_dim + 1}, {sub_dim})").cast(
                    "array<double>"
                )
            ).alias("features")
        )
        model = KMeans(
            k=k, seed=seed, maxIter=max_iter, featuresCol="features"
        ).fit(feats)
        cents = sorted(
            [round(float(x), scale) for x in c] for c in model.clusterCenters()
        )
        return [list(c) for c in cents]

    with ThreadPoolExecutor(max_workers=m) as pool:
        return list(pool.map(_fit, range(m)))


# ---------------------------------------------------------------------------
# PCA rotation/reduction: the dense-rotation stage that PRECEDES
# quantization in real vector pipelines (OPQ ≈ rotation + PQ). The
# FIT is a distributed Spark ML job (covariance Gramian + local
# eigendecomposition); the collected k×D component matrix is the
# MODEL — the same literals-not-data contract as PQ codebooks — and
# the projection is a map-only literal matmul, fully whole-stage
# codegen, zero Python, zero shuffles.
# ---------------------------------------------------------------------------
def pca_components(
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    scale: int = 6,
) -> list[list[float]]:
    """Fit PCA on ``vec_col`` and return the top-``k`` principal
    components as ``components[j][i]`` (component j, input dim i) —
    rounded literals collected to the driver (k·D floats are the
    MODEL, not data; the :func:`pq_codebooks_label_mean` contract).

    Eigensolvers fix components only up to sign, so each component is
    canonicalized: the entry with the largest |weight| (first such
    index on ties) is made positive. That makes the collected matrix
    stable across solver sign flips; ORDER still follows Spark ML's
    descending-eigenvalue convention. Like the other distributed fits
    (kmeans_centroids, pq_codebooks_kmeans) the fit itself is
    engine-specific → rows-only posture for any driver query built on
    it; quality bounds live in pytest. Note Spark ML's PCA projects
    RAW (uncentered) vectors — :func:`pca_project_expr` matches that.

    At 100 TB: fit on a bounded sample (1M vectors saturate a 64-dim
    covariance estimate) and broadcast the k·D literals; the
    projection stage scans the corpus exactly once, map-only."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = PCA(k=int(k), inputCol="features", outputCol="pca").fit(vecs)
    pc = np.array(model.pc.toArray())  # (D, k); column j = component j
    for j in range(pc.shape[1]):
        i = int(np.argmax(np.abs(pc[:, j])))
        if pc[i, j] < 0:
            pc[:, j] = -pc[:, j]
    return [
        [round(float(pc[i, j]), scale) for i in range(pc.shape[0])]
        for j in range(pc.shape[1])
    ]


def pca_project_expr(
    components: list[list[float]], vec_col: str = "embedding", scale: int = 6
) -> Column:
    """``array<double>`` column: ``vec_col`` projected onto literal
    ``components`` (from :func:`pca_components` or any fixed rotation).
    reduced[j] = Σ_i v[i]·P[j][i], sequential double accumulation
    (the :func:`dot_expr` posture), each coordinate rounded ``scale``
    dp. Pure map-side expression — composes with pq_encode_exprs /
    pq_adc_dist_expr for the rotate→quantize (OPQ-shape) stack."""
    terms = []
    for comp in components:
        lit = "array(" + ", ".join(f"cast({w} as double)" for w in comp) + ")"
        terms.append(
            f"round(aggregate(zip_with(cast({vec_col} as array<double>), {lit}, "
            f"(x, y) -> x * y), 0D, (acc, v) -> acc + v), {scale})"
        )
    return F.expr("array(" + ", ".join(terms) + ")")


def hadamard_rotation(dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic data-independent orthonormal rotation: the
    Sylvester Hadamard matrix H_dim scaled by 1/sqrt(dim). ``dim``
    must be a power of two; for dim=64 every entry is ±0.125 —
    EXACTLY representable in binary, so the rotation adds zero float
    noise of its own and the full rotate→PQ→ADC stack stays
    cross-engine hash-checkable (the randomized-rotation + PQ recipe
    of FAISS's pre-rotation / structured OPQ init — a fixed rotation
    decorrelates coordinates without a data-dependent fit)."""
    if dim & (dim - 1) or dim <= 0:
        raise ValueError(f"hadamard_rotation: dim must be a power of 2, got {dim}")
    h = [[1.0]]
    while len(h) < dim:
        n = len(h)
        h = [
            [h[i % n][j % n] * (-1.0 if (i >= n and j >= n) else 1.0)
             for j in range(2 * n)]
            for i in range(2 * n)
        ]
    s = 1.0 / float(np.sqrt(dim))
    return [[x * s for x in row] for row in h]


def opq_balance_components(
    components: list[list[float]], m: int = PQ_M
) -> list[list[float]]:
    """Round-robin-deal PCA components across ``m`` PQ subspaces —
    the non-parametric OPQ initialization (Ge et al., CVPR 2013 §4:
    eigenvalue allocation). ``components`` arrive sorted by
    descending eigenvalue (Spark ML's convention); a CONTIGUOUS
    slice-by-subspace would give subspace 0 all the high-variance
    directions and subspace m-1 noise, starving the codebooks.
    Dealing component c to subspace c % m balances the variance
    spectrum so every subspace's codebook carries comparable energy.
    Output order: position s*sub_dim + i holds component i*m + s,
    matching pq_encode_exprs' contiguous slice convention."""
    if len(components) % m:
        raise ValueError(f"{len(components)} components not divisible by m={m}")
    sub_dim = len(components) // m
    return [components[i * m + s] for s in range(m) for i in range(sub_dim)]


# ---------------------------------------------------------------------------
# Integer micro-unit PQ: the cross-engine-exact variant of the
# label-mean PQ chain, for pipelines whose INPUT vectors are already
# on a decimal lattice (e.g. a rotation stage that rounded its output
# — ann_rot_pq_adc_topk). Averaging lattice values puts centroids
# exactly ON round-half boundaries (an exact multiple of 1e-6/n lands
# on the 5e-7 boundary for ~2% of coordinates at n=50), where Spark's
# BigDecimal-HALF_UP and DuckDB's double-multiply round() disagree by
# 1 ulp — so instead of fighting float rounding, the chain leaves
# floats entirely: coordinates become BIGINT micro-units (one
# measure-zero-boundary round of a CONTINUOUS dot product, the same
# class of round every green float query performs), centroids are
# floor-of-average (exact: the rational mean is either an exact
# integer or ≥ 1/n away from one, dwarfing double error), and every
# distance/assignment/ADC after that is exact int64 arithmetic —
# bitwise identical on any engine, no rounding anywhere.
# ---------------------------------------------------------------------------
U6 = 1_000_000


def project_u6_expr(
    components: list[list[float]], vec_col: str = "embedding"
) -> Column:
    """``array<bigint>``: ``vec_col`` projected onto literal
    ``components``, each coordinate scaled to micro-units —
    round(dot·1e6) as int64. The dot is continuous (raw float32 data ×
    literal weights), so the single round sits on a half-boundary only
    on a measure-zero set; everything downstream is exact integers."""
    terms = []
    for comp in components:
        lit = "array(" + ", ".join(f"cast({w} as double)" for w in comp) + ")"
        terms.append(
            f"cast(round(aggregate(zip_with(cast({vec_col} as array<double>), {lit}, "
            f"(x, y) -> x * y), 0D, (acc, v) -> acc + v) * {U6}.0D, 0) as bigint)"
        )
    return F.expr("array(" + ", ".join(terms) + ")")


def pq_codebooks_floor_u6(
    corpus: DataFrame,
    vec_col: str,
    label_col: str = "label",
    m: int = PQ_M,
    sub_dim: int = PQ_SUB_DIM,
) -> list[list[list[int]]]:
    """Label-mean codebooks over an ``array<bigint>`` micro-unit
    column, centroid coordinate = floor(avg) as int64. floor, not
    round: avg of int64s is the exact rational Σ/n, which is either an
    exact integer (floor exact on both engines) or ≥ 1/n from one —
    never within double error of the discontinuity, unlike round's
    half-boundary which the lattice hits ~1/n of the time. Returns
    ``codebooks[s][k]`` (k = ascending label order), collected to the
    driver: M·K·sub_dim ints are the MODEL (pq_codebooks_label_mean
    contract)."""
    aggs = [
        F.floor(F.avg(F.col(vec_col)[i])).cast("bigint").alias(f"c{i}")
        for i in range(m * sub_dim)
    ]
    rows = corpus.groupBy(label_col).agg(*aggs).orderBy(label_col).collect()
    return [
        [[int(r[f"c{s * sub_dim + i}"]) for i in range(sub_dim)] for r in rows]
        for s in range(m)
    ]


def _pq_sub_dist_u6(vec: str, s: int, centroid: list[int], sub_dim: int) -> str:
    """SQL text: exact int64 squared L2 between subvector s of a
    micro-unit ``vec`` and a literal integer centroid."""
    lit = "array(" + ", ".join(f"{x}L" for x in centroid) + ")"
    return (
        f"aggregate(zip_with(slice({vec}, {s * sub_dim + 1}, {sub_dim}), {lit}, "
        f"(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )


def pq_encode_u6_exprs(
    codebooks: list[list[list[int]]],
    vec_col: str,
    sub_dim: int = PQ_SUB_DIM,
) -> tuple[Column, Column]:
    """(codes, sq_err_u) columns encoding a micro-unit vector against
    literal integer codebooks — argmin per subspace via (distance,
    label-index) struct array_min, all arithmetic exact int64.
    sq_err_u = Σ chosen subspace distances (µ²-units, bigint)."""
    best = [
        F.array_min(
            F.array(
                *[
                    F.struct(
                        F.expr(_pq_sub_dist_u6(vec_col, s, cent, sub_dim)).alias("d"),
                        F.lit(k).alias("l"),
                    )
                    for k, cent in enumerate(cb)
                ]
            )
        )
        for s, cb in enumerate(codebooks)
    ]
    codes = F.array(*[b["l"] for b in best])
    sq_err = sum((b["d"] for b in best), F.lit(0).cast("bigint"))
    return codes, sq_err.cast("bigint")


def pq_adc_u6_dist_expr(
    codebooks: list[list[list[int]]],
    q_vec: str = "q_vec",
    codes_col: str = "codes",
    sub_dim: int = PQ_SUB_DIM,
) -> Column:
    """Exact-int64 asymmetric PQ distance: micro-unit query subvectors
    vs the CODES' integer centroids (element_at lookup on a literal
    int codebook). Zero rounding anywhere — the adc value is bitwise
    engine-independent by construction."""
    terms = []
    for s, cb in enumerate(codebooks):
        cb_lit = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{x}L" for x in cent) + ")" for cent in cb
            )
            + ")"
        )
        terms.append(
            f"aggregate(zip_with(slice({q_vec}, {s * sub_dim + 1}, {sub_dim}), "
            f"element_at({cb_lit}, {codes_col}[{s}] + 1), "
            f"(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
        )
    return F.expr("(" + " + ".join(terms) + ")").cast("bigint")
