"""Hash-grade verification for the five rows-only driver queries
(VERDICT r8 #1). These queries are rows-only BY CONSTRUCTION — each
contains a distributed Spark ML fit (KMeans / LogisticRegression /
PCA) that no cross-engine DuckDB twin can replay — so in place of the
green oracle hash they carry the two strongest achievable analogues:

1. A SEEDED FRESH-SESSION DETERMINISM PIN: the query's canonicalized
   output hash must be identical when computed by a brand-new
   SparkSession in a separate JVM (separate Python process, separate
   driver, separate executor threads) with the same session config —
   the exact property the driver gate relies on when it records the
   row across rounds.
2. An INDEPENDENT numpy/pure-Python REPLICA (the precedent set by
   ann_rot_pq_adc_topk): the Spark-fit model literals (centroids /
   codebooks / components / LR weights) are collected, and EVERYTHING
   downstream of the fit — assignment, encode, search, scoring,
   recall — is recomputed outside Spark and must agree with the
   query output (bit-for-bit where the chain is exact, within a
   stated tolerance where a float mean/optimizer is inherent).

Together: the fit is pinned by cross-session determinism + convexity/
seeding, and the entire post-fit pipeline is pinned by a third
implementation — the closest possible equivalent of an oracle hash.
"""

from __future__ import annotations

import hashlib
import math
import subprocess
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from tests.conftest import REPO, SF_SMOKE

ROWS_ONLY = [
    "ann_kmeans_ivf_recall",
    "ann_pq_trained_recall",
    "ann_opq_adc_topk",
    "doc_quality_trained_model",
    "embedding_pca_reduce",
]


def _canonical_hash(df) -> str:
    """Driver-style canonicalization (tests/oracle_check._normalize:
    sorted columns, sorted stringified rows) folded to one md5."""
    from tests.oracle_check import _normalize

    pdf = df.toPandas()
    return hashlib.md5(
        repr((sorted(pdf.columns), _normalize(pdf))).encode()
    ).hexdigest()


def _round_spark(x: float, scale: int) -> float:
    """Replicate Spark's ROUND(double, s): BigDecimal.valueOf(double)
    (shortest round-trip decimal — Python repr) + setScale HALF_UP."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _seq_dot(a, b) -> float:
    """Sequential double accumulation — the dot_expr/aggregate fold
    order, bit-identical to Spark's (acc, v) -> acc + v."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _seq_sq_dist(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def _load_embeddings(spark):
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = [int(r.vec_id) for r in rows]
    labels = {int(r.vec_id): r.label for r in rows}
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in rows}
    return ids, labels, vecs


def _brute_topk_pairs(ids, vecs, query_limit: int, k: int) -> set:
    """ann_bruteforce_topk semantics: cosine rounded 9dp sequential,
    rank by (cosine desc, neighbor asc), self excluded."""
    norms = {i: math.sqrt(_seq_dot(vecs[i], vecs[i])) for i in ids}
    out = set()
    for q in [i for i in ids if i < query_limit]:
        scored = sorted(
            (
                (-_round_spark(
                    _seq_dot(vecs[q], vecs[c]) / (norms[q] * norms[c]), 9
                ), c)
                for c in ids
                if c != q
            ),
        )[:k]
        out |= {(q, c) for _, c in scored}
    return out


@pytest.mark.slow
def test_rows_only_queries_deterministic_across_fresh_sessions(spark):
    """Each rows-only query's canonicalized output hash is identical
    under a SECOND, fully independent SparkSession (fresh JVM via a
    subprocess) with the same session config — the determinism the
    driver's rows-only record implicitly asserts across rounds."""
    from hubsit_health_analytics_etl_spark import workload as w

    local = {
        name: _canonical_hash(w.QUERIES[name](spark, SF_SMOKE))
        for name in ROWS_ONLY
    }
    script = f"""
import sys, hashlib
sys.path.insert(0, {str(REPO)!r})
from hubsit_health_analytics_etl_spark.session import get_spark
from hubsit_health_analytics_etl_spark import workload as w
from tests.test_rows_only_verification import ROWS_ONLY, _canonical_hash
spark = get_spark(app_name="fresh-session-pin", master="local[8]",
                  shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
for name in ROWS_ONLY:
    print("HASH", name, _canonical_hash(w.QUERIES[name](spark, {SF_SMOKE!r})),
          flush=True)
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    fresh = {}
    for line in proc.stdout.splitlines():
        if line.startswith("HASH "):
            _, name, h = line.split()
            fresh[name] = h
    assert set(fresh) == set(ROWS_ONLY), proc.stdout
    for name in ROWS_ONLY:
        assert fresh[name] == local[name], (
            f"{name}: fresh-session hash {fresh[name]} != in-process "
            f"{local[name]} — the rows-only query is not deterministic "
            "across independent SparkSessions"
        )


def test_kmeans_ivf_recall_matches_numpy_replica(spark):
    """ann_kmeans_ivf_recall, third implementation: the Spark ML
    KMeans centers are the model; cell assignment (cosine 9dp, tie →
    lowest cell), home-cell search (cosine 9dp, tie → lowest
    neighbor), exact brute-force ground truth, and the recall
    arithmetic are all recomputed in pure Python from the collected
    centroids and must reproduce the query's scorecard row exactly."""
    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        kmeans_centroids,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_K,
        ANN_QUERY_LIMIT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w05_clusters_ann import (
        KMEANS_IVF_CELLS,
    )

    ids, _, vecs = _load_embeddings(spark)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = {
        int(r.cell): [float(x) for x in r.centroid]
        for r in kmeans_centroids(emb, KMEANS_IVF_CELLS).collect()
    }
    norms = {i: math.sqrt(_seq_dot(vecs[i], vecs[i])) for i in ids}
    c_norms = {c: math.sqrt(_seq_dot(v, v)) for c, v in cents.items()}

    def home_cell(i: int) -> int:
        best = min(
            (-_round_spark(
                _seq_dot(vecs[i], cents[c]) / (norms[i] * c_norms[c]), 9
            ), c)
            for c in sorted(cents)
        )
        return best[1]

    assigned: dict[int, list[int]] = {}
    for i in ids:
        assigned.setdefault(home_cell(i), []).append(i)

    approx = set()
    for q in [i for i in ids if i < ANN_QUERY_LIMIT]:
        cell = home_cell(q)
        cand = sorted(
            (
                (-_round_spark(
                    _seq_dot(vecs[q], vecs[c]) / (norms[q] * norms[c]), 9
                ), c)
                for c in assigned.get(cell, [])
                if c != q
            ),
        )[:ANN_K]
        approx |= {(q, c) for _, c in cand}

    brute = _brute_topk_pairs(ids, vecs, ANN_QUERY_LIMIT, ANN_K)
    n_hits, n_total = len(approx & brute), len(brute)

    row = w.QUERIES["ann_kmeans_ivf_recall"](spark, SF_SMOKE).collect()[0]
    assert row.method == "kmeans_ivf"
    assert (row.n_hits, row.n_total) == (n_hits, n_total), (
        row, n_hits, n_total
    )
    assert row.recall_at_k == _round_spark(n_hits / n_total, 6)


def test_pq_trained_recall_matches_numpy_replica(spark):
    """ann_pq_trained_recall, third implementation: the per-subspace
    Spark ML KMeans codebooks are the model; encode (9dp subspace
    distances, argmin tie → lowest code), ADC search, exact-L2 ground
    truth and recall are recomputed in pure Python and must reproduce
    the query's counts exactly (mse — a float mean over an unordered
    group — within 1e-6, the one legitimately order-dependent cell)."""
    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        PQ_M,
        PQ_SUB_DIM,
        pq_codebooks_kmeans,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_K,
        ANN_QUERY_LIMIT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w08_ann_composites import (
        PQ_TRAINED_K,
    )

    ids, _, vecs = _load_embeddings(spark)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb = pq_codebooks_kmeans(emb, k=PQ_TRAINED_K)
    dim = PQ_M * PQ_SUB_DIM

    def encode(i: int):
        codes, dists = [], []
        for s in range(PQ_M):
            sub = vecs[i][s * PQ_SUB_DIM : (s + 1) * PQ_SUB_DIM]
            best = min(
                (_round_spark(_seq_sq_dist(sub, cent), 9), k)
                for k, cent in enumerate(cb[s])
            )
            codes.append(best[1])
            dists.append(best[0])
        return codes, dists

    codes, mses = {}, {}
    for i in ids:
        c, d = encode(i)
        codes[i] = c
        acc = 0.0
        for x in d:
            acc += x
        mses[i] = _round_spark(acc / float(dim), 6)

    def adc(q: int, n: int) -> float:
        acc = 0.0
        for s in range(PQ_M):
            sub = vecs[q][s * PQ_SUB_DIM : (s + 1) * PQ_SUB_DIM]
            acc += _round_spark(_seq_sq_dist(sub, cb[s][codes[n][s]]), 9)
        return _round_spark(acc, 9)

    approx = set()
    queries = [i for i in ids if i < ANN_QUERY_LIMIT]
    for q in queries:
        top = sorted(((adc(q, n), n) for n in ids if n != q))[:ANN_K]
        approx |= {(q, n) for _, n in top}

    exact = set()
    for q in queries:
        top = sorted(
            ((_round_spark(_seq_sq_dist(vecs[q], vecs[n]), 9), n)
             for n in ids if n != q)
        )[:ANN_K]
        exact |= {(q, n) for _, n in top}

    n_hits, n_total = len(approx & exact), len(exact)
    mse = sum(mses.values()) / len(mses)

    row = w.QUERIES["ann_pq_trained_recall"](spark, SF_SMOKE).collect()[0]
    assert row.method == "pq_kmeans_adc"
    assert (row.n_hits, row.n_total) == (n_hits, n_total), (
        row, n_hits, n_total
    )
    assert row.recall_at_k == _round_spark(n_hits / n_total, 6)
    assert abs(row.mse - mse) <= 1e-6, (row.mse, mse)


def test_opq_adc_matches_independent_integer_replica(spark):
    """ann_opq_adc_topk, third implementation (the exact precedent of
    test_rot_pq_adc_matches_independent_integer_replica, with the
    Spark-ML-fitted OPQ rotation instead of the Hadamard literal):
    collect the balanced component literals — the model — then rotate,
    floor-average codebooks, encode and ADC-score in numpy int64;
    every adc_u of the registered query must match bit-for-bit."""
    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        EMBED_DIM,
        PQ_M,
        PQ_SUB_DIM,
        opq_balance_components,
        pca_components,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_K,
        ANN_QUERY_LIMIT,
    )

    emb_df = load_table(spark, SF_SMOKE, "embeddings")
    comps = opq_balance_components(pca_components(emb_df, EMBED_DIM))

    emb = emb_df.collect()
    vec_ids = np.array([r.vec_id for r in emb])
    labels = np.array([r.label for r in emb])
    X = np.stack([np.array(r.embedding, dtype=np.float64) for r in emb])
    H = np.array(comps)
    R = np.rint(X @ H.T * 1_000_000).astype(np.int64)

    labs = sorted(set(labels))
    sd = PQ_SUB_DIM
    cb = [
        np.stack(
            [
                np.floor(
                    R[labels == l, s * sd : (s + 1) * sd].mean(0)
                ).astype(np.int64)
                for l in labs
            ]
        )
        for s in range(PQ_M)
    ]
    codes = np.stack(
        [
            np.argmin(
                ((R[:, s * sd : (s + 1) * sd][:, None, :] - cb[s][None]) ** 2)
                .sum(-1),
                1,
            )
            for s in range(PQ_M)
        ],
        1,
    )
    out = w.QUERIES["ann_opq_adc_topk"](spark, SF_SMOKE).collect()
    assert len(out) == ANN_QUERY_LIMIT * ANN_K
    idx = {int(v): i for i, v in enumerate(vec_ids)}
    for r in out:
        qi, ni = idx[r.query_id], idx[r.neighbor_id]
        adc = 0
        for s in range(PQ_M):
            cent = cb[s][codes[ni, s]]
            d = R[qi, s * sd : (s + 1) * sd] - cent
            adc += int((d * d).sum())
        assert adc == r.adc_u, (r.query_id, r.neighbor_id, adc, r.adc_u)


def test_quality_lr_matches_numpy_convex_replica(spark):
    """doc_quality_trained_model, third implementation: the L2-
    regularized logistic loss is strictly CONVEX, so an independent
    optimizer must land on the same unique optimum. A numpy Newton
    solver minimizing Spark's exact objective — mean logloss +
    0.5·regParam·‖β·σ‖² (standardization=True divides features by the
    sample std and regularizes in that scaled space; intercept
    unpenalized) — must reproduce the Spark ML weights to optimizer
    tolerance, and scoring the same held-out rows with the numpy
    weights must reproduce the query's accuracy scorecard."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.quality_model import (
        QUALITY_LR_FEATURES,
        quality_feature_frame,
        train_quality_lr,
    )
    from hubsit_health_analytics_etl_spark.operators.sampling import (
        hash_bucket,
    )
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        quality_score,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w09_curation_lifecycle import (
        _QLR_TEST_PCT,
        QUALITY_LABEL_THRESHOLD,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
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
    train_df, test_df = feats.filter(~is_test), feats.filter(is_test)
    w_spark, b_spark = train_quality_lr(train_df)

    tr = train_df.select(*QUALITY_LR_FEATURES, "label").toPandas()
    te = test_df.select(*QUALITY_LR_FEATURES, "label").toPandas()
    Xtr = tr[QUALITY_LR_FEATURES].to_numpy(dtype=np.float64)
    ytr = tr["label"].to_numpy(dtype=np.float64)
    Xte = te[QUALITY_LR_FEATURES].to_numpy(dtype=np.float64)
    yte = te["label"].to_numpy(dtype=np.float64)

    sigma = Xtr.std(axis=0, ddof=1)
    # Spark excludes zero-variance features (coefficient pinned to 0)
    active = sigma > 0
    Z = Xtr[:, active] / sigma[active]
    lam, n = 0.01, len(ytr)

    # Newton on (beta_std, b): grad/hessian of mean-logloss + ridge
    theta = np.zeros(Z.shape[1] + 1)
    A = np.hstack([Z, np.ones((n, 1))])
    reg = np.diag([lam] * Z.shape[1] + [0.0])
    for _ in range(50):
        z = A @ theta
        p = 1.0 / (1.0 + np.exp(-z))
        grad = A.T @ (p - ytr) / n + reg @ theta
        W = p * (1 - p)
        Hm = (A.T * W) @ A / n + reg
        step = np.linalg.solve(Hm, grad)
        theta = theta - step
        if np.max(np.abs(step)) < 1e-12:
            break
    w_np = np.zeros(Xtr.shape[1])
    w_np[active] = theta[:-1] / sigma[active]
    b_np = theta[-1]

    # same unique optimum as Spark's L-BFGS (within optimizer tol)
    assert np.allclose(w_np, np.array(w_spark), rtol=1e-3, atol=1e-3), (
        w_np, w_spark
    )
    assert abs(b_np - b_spark) <= 1e-3 * max(1.0, abs(b_np)), (b_np, b_spark)

    # numpy-scored held-out accuracy reproduces the query scorecard
    pred_np = (Xte @ w_np + b_np >= 0).astype(np.float64)
    acc_np = float((pred_np == yte).mean())
    base = max(yte.mean(), 1 - yte.mean())
    row = w.QUERIES["doc_quality_trained_model"](spark, SF_SMOKE).collect()[0]
    assert (row.n_train, row.n_test) == (len(ytr), len(yte))
    assert row.accuracy == pytest.approx(acc_np, abs=1e-4)
    assert row.baseline_acc == pytest.approx(round(base, 4), abs=1e-4)


def test_pca_reduce_scalars_match_exact_python_replay(spark):
    """embedding_pca_reduce, per-row replica: with the fitted
    component literals as the model, the query's energy_kept_u6 and
    recon_err_u6 integers are replayed in pure Python with the same
    sequential fold order — floor() of the identical IEEE doubles —
    and must match bit-for-bit for every vector (the subspace
    OPTIMALITY of the fit itself is pinned separately against numpy's
    eigendecomposition in test_embedding_pca_reduce_finds_optimal_
    subspace)."""
    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        pca_components,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w12_retrieval_sketches import (
        PCA_K,
    )

    ids, _, vecs = _load_embeddings(spark)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    pc = pca_components(emb, PCA_K)
    dim = len(pc[0])

    rows = w.QUERIES["embedding_pca_reduce"](spark, SF_SMOKE).collect()
    assert len(rows) == len(ids)
    for r in rows:
        v = vecs[r.vec_id]
        proj = [_round_spark(_seq_dot(v, comp), 6) for comp in pc]
        kept = 0.0
        for x in proj:
            kept += x * x
        tot = 0.0
        for x in v:
            tot += x * x
        energy = math.floor(1000000.0 * kept / tot)
        recon = math.floor(max(0.0, tot - kept) * 1000000.0 / float(dim))
        assert r.energy_kept_u6 == energy, (r.vec_id, r.energy_kept_u6, energy)
        assert r.recon_err_u6 == recon, (r.vec_id, r.recon_err_u6, recon)


# Gate-shape contract for the rows-only queries (VERDICT r16 #7): the
# driver's rows-only record is just a row count, and the numpy
# replicas above pin exact shapes — a recall/accuracy harness is one
# scalar row, ann_opq_adc_topk is 10 query vectors x k=10 ADC hits,
# embedding_pca_reduce is one row per embeddings vector (the table
# ships 500 vectors at EVERY sf — the driver generates a fixed-size
# embedding fixture). These constants are sf-independent, so the
# sf0.01 gate artifact and the sf0.001 replica suite must agree on
# them; a silent row-shape drift can therefore no longer pass both.
EXPECTED_GATE_ROWS = {
    "ann_kmeans_ivf_recall": 1,
    "ann_pq_trained_recall": 1,
    "ann_opq_adc_topk": 100,
    "doc_quality_trained_model": 1,
    "embedding_pca_reduce": 500,
}


def test_latest_gate_artifact_rows_only_shapes_match_replicas():
    """Cross-check the newest committed CORRECTNESS_r*.json against
    the replica suite's expected shapes: every rows-only query the
    gate recorded must carry err='no_oracle' and exactly the row
    count the numpy replicas verify, and NO query outside ROWS_ONLY
    may be a no_oracle row (a new rows-only query must opt in here
    with a replica, never inherit the weaker record silently)."""
    import json
    import re

    arts = sorted(
        REPO.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    assert arts, "no CORRECTNESS_r*.json artifacts committed"
    latest = json.loads(arts[-1].read_text())
    assert set(EXPECTED_GATE_ROWS) == set(ROWS_ONLY)
    for name, rec in latest.items():
        if not isinstance(rec, dict):
            continue
        if name in EXPECTED_GATE_ROWS:
            if rec.get("err") == "no_oracle":
                assert rec.get("spark_rows") == EXPECTED_GATE_ROWS[name], (
                    f"{name}: gate recorded spark_rows="
                    f"{rec.get('spark_rows')}, replicas pin "
                    f"{EXPECTED_GATE_ROWS[name]} ({arts[-1].name})"
                )
        else:
            assert rec.get("err") != "no_oracle", (
                f"{name} is a no_oracle gate row but has no numpy "
                f"replica in tests/test_rows_only_verification.py "
                f"({arts[-1].name})"
            )
