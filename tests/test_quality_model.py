"""Model-based quality scoring: literal-logit arithmetic, map-only
scoring plan, and trained-model quality bounds."""

from __future__ import annotations

import pyspark.sql.functions as F

from .conftest import SF_SMOKE


def test_logit_expr_matches_manual_arithmetic(spark):
    from hubsit_health_analytics_etl_spark.operators.quality_model import logit_expr

    df = spark.createDataFrame(
        [(0.2, 5.0, 0.1, 3.0)], "swr double, mwl double, pr double, ntok_h double"
    )
    z = df.select(logit_expr([8.0, 0.1, -12.0, 0.02], -1.5).alias("z")).first()["z"]
    assert abs(z - (-1.5 + 8.0 * 0.2 + 0.1 * 5.0 - 12.0 * 0.1 + 0.02 * 3.0)) < 1e-12


def test_doc_quality_logit_scoring_is_map_only(spark):
    """The deployed scoring path must be a single scan + codegen
    project: no shuffle, no join, no Python eval — that is the whole
    point of inlining the model as literals."""
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    df = QUERIES["doc_quality_logit"](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    # spread()'s RoundRobin fan-out of the single tiny fixture file is
    # allowed — it is data-independent; what must NOT appear is a keyed
    # shuffle, a join, or a Python stage
    for bad in ("hashpartitioning", "Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in p, f"{bad} in scoring plan"


def test_trained_quality_model_beats_majority_baseline(spark):
    """The rows-only contract of doc_quality_trained_model: the
    learned weights must clear the majority-class bar by a real margin
    on the held-out split (not memorization — the split is disjoint by
    hash), and the split must actually hold data."""
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    row = QUERIES["doc_quality_trained_model"](
        spark, "/root/testdata/sf0.001"
    ).first()
    assert row["n_train"] > 0 and row["n_test"] > 0
    assert row["baseline_acc"] < 1.0  # both classes populated
    assert row["accuracy"] >= 0.8
    assert row["accuracy"] >= row["baseline_acc"] + 0.1


def test_train_quality_lr_weights_are_finite(spark):
    from hubsit_health_analytics_etl_spark.operators.quality_model import (
        QUALITY_LR_FEATURES,
        train_quality_lr,
    )
    import math

    df = spark.createDataFrame(
        [
            (0.30, 5.0, 0.02, 1.0, 1.0),
            (0.28, 6.0, 0.03, 2.0, 1.0),
            (0.02, 2.0, 0.30, 0.2, 0.0),
            (0.01, 12.0, 0.25, 0.1, 0.0),
        ]
        * 10,
        "swr double, mwl double, pr double, ntok_h double, label double",
    )
    w, b = train_quality_lr(df)
    assert len(w) == len(QUALITY_LR_FEATURES)
    assert all(math.isfinite(x) for x in [*w, b])
    # separable fixture: stopword-rich low-punct docs score higher
    from hubsit_health_analytics_etl_spark.operators.quality_model import logit_expr

    scored = df.select(
        "label", (logit_expr(w, b) >= 0).cast("double").alias("pred")
    )
    acc = scored.agg(
        F.avg((F.col("pred") == F.col("label")).cast("double"))
    ).first()[0]
    assert acc == 1.0


def test_doc_quality_calibration_reliability_invariants(spark):
    """Reliability-table contract: bins inside [0, CALIB_BINS), totals
    cover every document, observed rate is the exact integer ratio,
    predicted midpoints strictly increase with bin (sigmoid is
    monotone), and the observed keep-rate rises from the lowest to the
    highest populated logit bin (the classifier orders the corpus even
    where its absolute calibration is off — which gap_u6 quantifies)."""
    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w09_curation_lifecycle import (
        CALIB_BINS,
    )

    rows = sorted(
        w.QUERIES["doc_quality_calibration"](spark, SF_SMOKE).collect(),
        key=lambda r: r.bin,
    )
    assert rows
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    preds = [r.pred_mid_u6 for r in rows]
    assert preds == sorted(preds) and len(set(preds)) == len(preds)
    for r in rows:
        assert 0 <= r.bin < CALIB_BINS
        assert 0 <= r.n_pos <= r.n
        assert r.obs_rate_u6 == (r.n_pos * 1_000_000) // r.n
        assert r.gap_u6 == abs(r.obs_rate_u6 - r.pred_mid_u6)
    assert rows[-1].obs_rate_u6 >= rows[0].obs_rate_u6
