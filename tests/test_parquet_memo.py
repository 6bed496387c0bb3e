"""sources/parquet.py plan memo — the immutability guard (VERDICT r17
#6): a memo hit must be served only while the path's file set is
byte-for-byte what it was at memo time; an overwritten path re-reads
instead of silently serving the stale pinned listing."""

from __future__ import annotations

from .conftest import SF_SMOKE


def test_memo_serves_same_plan_for_immutable_path(spark):
    from hubsit_health_analytics_etl_spark.sources.parquet import (
        read_parquet_immutable,
    )

    p = f"{SF_SMOKE}/nation.parquet"
    a = read_parquet_immutable(spark, p)
    b = read_parquet_immutable(spark, p)
    # memo hit: the identical DataFrame (plan) object, no re-inference
    assert a is b
    assert a.count() == b.count()


def test_overwritten_path_is_not_served_stale(spark, tmp_path):
    from hubsit_health_analytics_etl_spark.sources.parquet import (
        read_parquet_immutable,
    )

    path = str(tmp_path / "mutating")
    spark.range(0, 5).write.mode("overwrite").parquet(path)
    first = read_parquet_immutable(spark, path)
    assert first.count() == 5

    # violate the write-once contract: overwrite with different rows
    spark.range(0, 9).write.mode("overwrite").parquet(path)
    again = read_parquet_immutable(spark, path)
    # the guard must re-read — fresh rows, not the stale 5-row listing
    assert again.count() == 9
    # and the refreshed entry keeps serving consistently
    assert read_parquet_immutable(spark, path) is again


def test_memo_cap_evicts_foreign_sessions_first(spark):
    from hubsit_health_analytics_etl_spark.sources import parquet as pq

    app = spark.sparkContext.applicationId
    live_key = (app, f"{SF_SMOKE}/region.parquet")
    live = pq.read_parquet_immutable(spark, f"{SF_SMOKE}/region.parquet")
    try:
        # flood the memo with fake entries from a "stopped" session
        for i in range(pq._PLAN_MEMO_CAP + 1):
            pq._PLAN_MEMO[("dead-app", f"/nope/{i}")] = (None, None)
        again = pq.read_parquet_immutable(spark, f"{SF_SMOKE}/customer.parquet")
        assert again is not None
        # dead session evicted wholesale; the live entry survived
        assert not any(k[0] == "dead-app" for k in pq._PLAN_MEMO)
        assert pq._PLAN_MEMO[live_key][0] is live
    finally:
        for k in [k for k in pq._PLAN_MEMO if k[0] == "dead-app"]:
            del pq._PLAN_MEMO[k]


def test_concurrent_hits_over_cap_evict_without_error(spark):
    """Wave threads share the memo: concurrent hits that each find it
    over the cap must evict the dead session once between them — no
    KeyError from a double delete, no 'dictionary changed size' from
    iterating during another thread's eviction."""
    import sys
    import threading

    from hubsit_health_analytics_etl_spark.sources import parquet as pq

    paths = [f"{SF_SMOKE}/{t}.parquet" for t in ("region", "nation")]
    live = {p: pq.read_parquet_immutable(spark, p) for p in paths}
    errors, hits = [], []

    def worker(i):
        try:
            for _ in range(50):
                p = paths[i % 2]
                hits.append(pq.read_parquet_immutable(spark, p) is live[p])
        except Exception as e:  # collected for the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(3):
            for i in range(pq._PLAN_MEMO_CAP + 1):
                pq._PLAN_MEMO[("dead-app", f"/nope/{i}")] = (None, None)
            threads = [
                threading.Thread(target=worker, args=(i,)) for i in range(16)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
            assert not any(k[0] == "dead-app" for k in pq._PLAN_MEMO)
    finally:
        sys.setswitchinterval(old)
        for k in [k for k in pq._PLAN_MEMO if k[0] == "dead-app"]:
            del pq._PLAN_MEMO[k]
    assert errors == []
    assert len(hits) == 3 * 16 * 50 and all(hits)
