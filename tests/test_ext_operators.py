"""Behavioral tests for the EXT operators (dedup/similarity/text/
multimodal) beyond oracle parity."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from .conftest import SF_SMOKE


def _docs(spark):
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    return load_table(spark, SF_SMOKE, "documents")


def test_minhash_candidates_are_subset_of_ground_truth_high_j(spark):
    """Every LSH candidate with high exact jaccard must appear in the
    exhaustive pair set; LSH may MISS pairs (recall<1) but must never
    invent jaccard values."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        minhash_candidates,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark)
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_candidates(docs).filter(F.col("jaccard") >= 0.3).collect()
    }
    truth = {
        (r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, 0.3).collect()
    }
    assert set(lsh).issubset(set(truth))
    for k, v in lsh.items():
        assert truth[k] == v
    # the fixture has very-near-dups (j>0.9): LSH must catch those
    high = {k for k, v in truth.items() if v > 0.9}
    assert high and high.issubset(set(lsh))


def test_minhash_spam_cluster_bounded(spark):
    """Adversarial corpus: 1000 byte-identical spam docs + a handful of
    distinct docs. Un-capped LSH would put all 1000 ids in one bucket
    per band and emit ~500k pairs on one reducer; the production
    configuration (pre-exact-dedup + bucket cap) must emit ZERO pairs
    among the identical docs (they collapse to one representative) and
    keep total pair output bounded by the cap."""
    from pyspark.sql import Observation

    from hubsit_health_analytics_etl_spark.operators.dedup import (
        MINHASH_BUCKET_CAP,
        N_BANDS,
        exact_dup_edges,
        minhash_candidates,
    )

    spam = [(i, "buy cheap pills now best price online pharmacy deal") for i in range(1000)]
    distinct = [
        (2000 + i, f"the quick brown fox number {i} jumps over the lazy dog {i}")
        for i in range(5)
    ]
    docs = spark.createDataFrame(spam + distinct, "doc_id long, text string")

    pairs = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).collect()
    # 6 representatives total -> pair count bounded far below m^2/2
    max_pairs = N_BANDS * MINHASH_BUCKET_CAP * (MINHASH_BUCKET_CAP - 1) // 2
    assert len(pairs) <= max_pairs
    spam_ids = {i for i in range(1000)}
    assert not any(r.doc_a in spam_ids and r.doc_b in spam_ids for r in pairs)

    # the spam cluster is still fully recoverable via exact edges
    edges = exact_dup_edges(docs).collect()
    assert len(edges) == 999
    assert all(e.doc_a == 0 and e.jaccard == 1.0 for e in edges)

    # cap path without pre-dedup: the hot bucket is DROPPED (observed),
    # not expanded into 500k pairs
    obs = Observation("lsh")
    capped = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, observation=obs
    )
    n = capped.count()
    assert n <= max_pairs
    assert obs.get["dropped_buckets"] >= N_BANDS  # one hot bucket per band
    assert obs.get["dropped_members"] >= N_BANDS * 1000


def test_exact_dedup_identifies_inserted_duplicates(spark):
    from hubsit_health_analytics_etl_spark.operators.dedup import exact_dedup

    docs = _docs(spark).limit(10)
    noisy = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" ")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(noisy)
    out = exact_dedup(both)
    assert out.count() == 10  # every noisy copy collapses onto its source
    assert out.agg(F.sum("n_copies")).collect()[0][0] == 20
    assert out.agg(F.max("doc_id")).collect()[0][0] < 1000  # keeps min id


def test_simhash_close_for_near_identical_docs(spark):
    from hubsit_health_analytics_etl_spark.operators.dedup import simhash32

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "the quick brown fox jumps over the lazy dog again and again ok"),
            (2, "completely different words about spark shuffles and parquet files"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.h for r in df.select("doc_id", simhash32("text").alias("h")).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(rows[0], rows[1]) < ham(rows[0], rows[2])


def test_simhash_pairs_banding_is_pigeonhole_complete(spark):
    """With 4 bands over 32 bits and radius 3, band-bucketing must
    retrieve EXACTLY the exhaustive Hamming-≤3 pair set (pigeonhole:
    ≤3 flipped bits leave one 8-bit band intact), when no bucket is
    capped away."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        exact_dup_representatives,
        simhash32,
        simhash_candidate_pairs,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_candidate_pairs(docs, bucket_cap=None).collect()
    }
    sig = {
        r.doc_id: r.h
        for r in exact_dup_representatives(docs)
        .select("doc_id", simhash32("text").alias("h"))
        .collect()
    }
    ids = sorted(sig)
    want = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    assert got == want and len(want) > 0


def test_incremental_dedup_equals_full_recompute_restricted(spark, tmp_path):
    """The incremental contract: new-batch-vs-persisted-index candidate
    pairs == full-corpus recompute (same cap, no pre-dedup) restricted
    to pairs touching the batch — identical keys AND Jaccard values,
    through a real parquet round-trip of the index."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.dedup import (
        incremental_minhash_candidates,
        minhash_candidates,
        minhash_signature_index,
    )
    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    is_new = hash_bucket("doc_id") < 10
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    bands, shingles = minhash_signature_index(corpus)
    bands.write.parquet(str(tmp_path / "bands"))
    shingles.write.parquet(str(tmp_path / "shingles"))
    inc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in incremental_minhash_candidates(
            batch,
            spark.read.parquet(str(tmp_path / "bands")),
            spark.read.parquet(str(tmp_path / "shingles")),
            bucket_cap=32,
        ).collect()
    }
    new_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_candidates(
            docs, bucket_cap=32, pre_exact_dedup=False
        ).collect()
    }
    restricted = {
        k: v for k, v in full.items() if k[0] in new_ids or k[1] in new_ids
    }
    assert len(inc) > 0
    assert inc == restricted


def test_ivf_index_search_neighbors_come_from_index_only(spark, tmp_path):
    """Searching a persisted IVF index with a new batch returns
    neighbors drawn exclusively from the index (never the batch), with
    cosines equal to ivf_topk's for the same (query, neighbor) pairs —
    persistence must not change any score."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        ivf_index,
        ivf_search_index,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    is_new = hash_bucket("vec_id") < 10
    corpus, batch = emb.filter(~is_new), emb.filter(is_new)
    cents, assigned = ivf_index(corpus)
    cents.write.parquet(str(tmp_path / "c"))
    assigned.write.parquet(str(tmp_path / "a"))
    out = ivf_search_index(
        spark.read.parquet(str(tmp_path / "a")),
        spark.read.parquet(str(tmp_path / "c")),
        batch,
        5,
    ).collect()
    assert len(out) > 0
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    assert all(r.neighbor_id not in batch_ids for r in out)
    assert all(r.query_id in batch_ids for r in out)


def test_ngram_jaccard_df_cap_subset_and_identity_below_cap(spark):
    """df-capped n-gram Jaccard ⊆ uncapped; when every shingle's
    document frequency is below the cap, the two are identical (the
    cap only ever removes postings, never adds or rescores pairs)."""
    from hubsit_health_analytics_etl_spark.operators.dedup import ngram_jaccard_pairs
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, 0.1).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, 0.1, df_cap=3).collect()
    }
    assert len(exact) > 0
    assert set(capped) <= set(exact)
    # capped intersections can only shrink → jaccard never increases
    assert all(exact[k] >= v for k, v in capped.items())
    # a cap above every shingle's df is the identity
    n_docs = docs.count()
    assert {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, 0.1, df_cap=n_docs).collect()
    } == exact


def test_brute_force_topk_rejects_oversized_query_set(spark):
    """The broadcast guard: a query set over max_queries must fail
    loudly instead of broadcasting it to every executor."""
    import pytest as _pytest

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        brute_force_topk,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with _pytest.raises(ValueError, match="broadcasts the query set"):
        brute_force_topk(emb, emb, 5, max_queries=10)
    # under the limit (or waived) the same call plans fine
    q = emb.filter(F.col("vec_id") < 3)
    assert brute_force_topk(emb, q, 5, max_queries=10).count() > 0


def test_simhash_pairs_bucket_cap_yields_subset(spark):
    """Capped retrieval ⊆ uncapped retrieval, with identical hamming
    values on the surviving pairs."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        simhash_candidate_pairs,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    full = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_candidate_pairs(docs, bucket_cap=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_candidate_pairs(docs, bucket_cap=8).collect()
    }
    assert set(capped) <= set(full)
    assert all(full[k] == v for k, v in capped.items())


def test_ann_lsh_results_subset_of_bruteforce_space(spark):
    """LSH top-k cosines must equal brute-force cosines for the same
    (query, neighbor) pairs — bucketing restricts candidates, never
    changes scores."""
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    bf = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), 400)
    bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf.collect()}
    lsh = lsh_bucket_topk(emb, 5, query_filter=F.col("vec_id") < 5)
    for r in lsh.collect():
        assert bf_scores[(r.query_id, r.neighbor_id)] == r.cosine


def test_kmeans_ivf_recall_at_least_label_mean(spark):
    """The trained coarse quantizer (seeded Spark ML KMeans) must reach
    at least the recall of the deterministic label-mean stand-in, both
    measured against exact brute-force top-k."""
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qf = F.col("vec_id") < 20
    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb.filter(qf), 5).collect()
    }

    def recall(df) -> float:
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & brute) / len(brute)

    base = recall(ivf_topk(emb, 5, query_filter=qf))
    n_cells = emb.select("label").distinct().count()
    trained = recall(
        ivf_topk(
            emb, 5, query_filter=qf,
            centroids=kmeans_centroids(emb, n_cells),
        )
    )
    assert trained >= base, f"kmeans recall {trained} < label-mean {base}"


def test_multimodal_feature_extraction_schema_and_determinism(spark):
    from hubsit_health_analytics_etl_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        documents_as_media,
        extract_features,
    )

    media = documents_as_media(_docs(spark).limit(20))
    out = extract_features(media)
    assert out.schema == FEATURE_SCHEMA
    rows1 = sorted(out.collect())
    rows2 = sorted(extract_features(media).collect())
    assert rows1 == rows2  # deterministic stub kernel
    assert all(r.n_bytes > 0 and len(r.payload_sha) == 64 for r in rows1)


def test_decode_image_stub_raises_without_pil():
    import pytest as _pytest

    from hubsit_health_analytics_etl_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        _pytest.skip("PIL present; stub not exercised")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_lang_id_prefers_matching_stopwords(spark):
    from hubsit_health_analytics_etl_spark.operators.textanalysis import lang_id, tokens

    df = spark.createDataFrame(
        [
            ("the cat and the dog of the house",),
            ("el perro y la casa de que un",),
            ("xyzzy qwerty asdf",),
        ],
        "text string",
    )
    out = [r[0] for r in df.select(lang_id(tokens("text")).alias("lg")).collect()]
    assert out == ["en", "es", "und"]


def test_winnowing_guarantee_and_identity(spark):
    """Winnowing contract: docs sharing a run of >= w+k-1 tokens share
    at least one fingerprint; identical docs have identical sets;
    disjoint-vocabulary docs share nothing."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        winnowed_fingerprints,
    )

    shared_run = " ".join(f"common{i}" for i in range(12))  # >= 4+8-1
    df = spark.createDataFrame(
        [
            (0, "alpha beta " + shared_run + " gamma delta"),
            (1, "zeta eta theta " + shared_run),
            (2, "alpha beta " + shared_run + " gamma delta"),
            (3, " ".join(f"other{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    fps = {
        r.doc_id: set(r.fingerprints)
        for r in winnowed_fingerprints(df, k=4, w=8).collect()
    }
    assert fps[0] & fps[1], "shared 12-token run must collide"
    assert fps[0] == fps[2], "identical docs -> identical fingerprints"
    assert not fps[0] & fps[3] and not fps[1] & fps[3]


def test_winnow_pairs_find_planted_near_dups(spark):
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        winnow_candidate_pairs,
    )

    core = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (0, core + " trailing bits here"),
            (1, "lead-in words then " + core),
            (2, " ".join(f"x{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnow_candidate_pairs(df, min_shared=2, df_cap=50).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert all(2 not in p for p in pairs)


def test_winnow_df_cap_drops_boilerplate_fingerprints(spark):
    """A fingerprint present in more docs than df_cap is dropped, so
    boilerplate-only overlap yields no pairs (the hot-key guard)."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        winnow_candidate_pairs,
    )

    boiler = " ".join(f"b{i}" for i in range(15))
    rows = [(i, boiler + f" unique{i} only{i} here{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = winnow_candidate_pairs(df, min_shared=1, df_cap=3).collect()
    assert got == []
    # with the cap lifted the boilerplate pairs every doc with every other
    uncapped = winnow_candidate_pairs(df, min_shared=1, df_cap=None).count()
    assert uncapped == 15


def test_ivf_nprobe_monotone_recall(spark):
    """Probing more cells can only add candidates: recall@k vs brute
    force is monotone in nprobe (the knob's whole contract)."""
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qf = F.col("vec_id") < 20
    brute = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb.filter(qf), 5).collect()
    }

    def recall(nprobe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, 5, query_filter=qf, nprobe=nprobe).collect()
        }
        return len(got & brute) / len(brute)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r4 > r1, "probing 4x cells must lift recall on this fixture"


def test_range_join_semantics_match_naive_join(spark):
    """Bucketized range join == the naive inequality join (exactly-once
    pairs), with half-open boundaries: ts == start in, ts == end out.
    Intervals spanning many buckets and empty intervals covered."""
    import datetime as dt

    from hubsit_health_analytics_etl_spark.operators.rangejoin import range_join

    T = lambda h, m=0, s=0: dt.datetime(2025, 1, 1, h, m, s)  # noqa: E731
    points = spark.createDataFrame(
        [(i, T(9 + i % 12, 7 * i % 60)) for i in range(40)]
        + [(100, T(10)), (101, T(12))],  # exact boundary probes
        "pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (1, T(10), T(12)),       # 2h window: 100 in, 101 out
            (2, T(9, 30), T(18)),    # spans 9 buckets at 1h bucketing
            (3, T(14), T(14)),       # empty -> dropped
            (4, T(15), T(14)),       # inverted -> dropped
        ],
        "iid long, w_start timestamp, w_end timestamp",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            points, intervals, "ts", "w_start", "w_end", bucket_sec=3600
        ).collect()
    }
    naive = {
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        ).collect()
    }
    assert got == naive
    assert (100, 1) in got and (101, 1) not in got
    assert not any(i in (3, 4) for _, i in got)


def test_resize_images_schema_dims_and_modality_filter(spark):
    from hubsit_health_analytics_etl_spark.operators.multimodal import (
        RESIZED_SCHEMA,
        documents_as_media,
        resize_images,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, SF_SMOKE, "documents"))
    out = resize_images(media, max_side=224)
    assert out.schema == RESIZED_SCHEMA
    rows = out.collect()
    # only image rows crossed the Arrow boundary
    assert len(rows) == media.filter(F.col("kind") == "image").count() > 0
    for r in rows:
        assert max(r.width, r.height) == 224
        assert min(r.width, r.height) >= 1
    # deterministic under repartitioning
    again = {(r.media_id, bytes(r.payload)) for r in resize_images(media.repartition(7), 224).collect()}
    assert {(r.media_id, bytes(r.payload)) for r in rows} == again


def test_sample_frames_fanout_matches_stub_count(spark):
    from hubsit_health_analytics_etl_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
        stub_frame_count,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    media = documents_as_media(load_table(spark, SF_SMOKE, "documents"))
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", F.length("payload").alias("n")
    )
    expect = {
        r.media_id: len(range(0, stub_frame_count(r.n), 2)) for r in vids.collect()
    }
    got = (
        sample_frames(media, every_n=2)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("k"), F.max("frame_idx").alias("mx"))
        .collect()
    )
    assert {r.media_id: r.k for r in got} == expect
    for r in got:
        assert r.mx % 2 == 0  # only even indices sampled


def test_approx_sketches_within_error_bounds(spark):
    """HLL distinct counts within 5*rsd of exact; approx quantiles
    within the neighborhood of exact percentiles (sketches cannot be
    oracle-hash-checked — bounded error IS their contract)."""
    from hubsit_health_analytics_etl_spark.operators.aggregate import (
        approx_distinct,
        approx_quantiles,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    events = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.approx_distinct_user_id
        for r in approx_distinct(events, ["event_type"], "user_id").collect()
    }
    assert approx.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(5 * 0.02 * n, 2), (k, approx[k], n)

    qa = {
        r.event_type: r.approx_q_value
        for r in approx_quantiles(
            events, ["event_type"], "value", [0.5, 0.95]
        ).collect()
    }
    qe = {
        r.event_type: r.q
        for r in events.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5, 0.95))").alias("q"))
        .collect()
    }
    for k in qe:
        for a, e in zip(qa[k], qe[k]):
            assert abs(a - e) <= max(abs(e) * 0.05, 0.5), (k, a, e)


def test_lsh_ivf_broadcast_guard_drops_hint_when_tripped(spark):
    """The ANN equi-join paths must DROP the broadcast hint when the
    query side exceeds the guard, with identical results: at scale
    (real table stats) the planner then shuffles the equi-join instead
    of force-broadcasting an oversized query set onto every executor.
    At fixture scale the stats-based planner may still auto-broadcast
    the tiny side — correct both times — so the contract asserted is
    hint ABSENT + results unchanged."""
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        ivf_index,
        ivf_search_index,
        ivf_topk,
        lsh_bucket_topk,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qf = F.col("vec_id") < 5

    def rows(df):
        return {tuple(r) for r in df.collect()}

    def n_hints(df) -> int:
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    # lsh: guard tripped -> no broadcast hint on the query side; same rows
    small = lsh_bucket_topk(emb, 3, query_filter=qf)
    big = lsh_bucket_topk(emb, 3, query_filter=qf, max_broadcast_queries=1)
    assert n_hints(small) == 1 and n_hints(big) == 0
    assert rows(small) == rows(big)

    # ivf_topk: the (tiny-by-construction) centroid broadcast hint
    # stays; the guard removes only the query-side hint
    small = ivf_topk(emb, 3, query_filter=qf)
    big = ivf_topk(emb, 3, query_filter=qf, max_broadcast_queries=1)
    assert n_hints(big) == n_hints(small) - 1
    assert rows(small) == rows(big)

    # persisted-index search: oversized batch falls back too
    corpus, batch = emb.filter(F.col("vec_id") >= 20), emb.filter(F.col("vec_id") < 20)
    cents, assigned = ivf_index(corpus)
    small = ivf_search_index(assigned, cents, batch, 3)
    big = ivf_search_index(assigned, cents, batch, 3, max_broadcast_queries=1)
    assert n_hints(big) == n_hints(small) - 1
    assert rows(small) == rows(big)


def test_spread_decides_from_row_groups(spark, tmp_path):
    """``spread`` fans out only an input whose parquet files hold fewer
    than shuffle-partitions row groups, and decides from file metadata
    alone: at 100 TB the scan has thousands of row groups and a blanket
    repartition would re-shuffle the whole corpus, and the decision
    must launch no Spark job even on a join-shaped frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hubsit_health_analytics_etl_spark.sources.parquet import (
        load_table,
        spread,
    )

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # one file holding n row groups: passes through, not even a new node
    wide_path = str(tmp_path / "wide.parquet")
    pq.write_table(pa.table({"k": list(range(4 * n))}), wide_path, row_group_size=4)
    assert pq.read_metadata(wide_path).num_row_groups == n
    wide = spark.read.parquet(wide_path)
    assert spread(wide) is wide

    # the one-row-group fixture gains the round-robin fan-out
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = spread(docs)._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({n})" in plan, plan

    # no file input: nothing to decide from, returned as is
    mem = spark.createDataFrame([(1,)], "k int")
    assert spread(mem) is mem

    # join-shaped input: no job (a partition probe would run the
    # broadcast), and its two one-row-group files still fan out
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    joined = docs.join(F.broadcast(emb), "doc_id")
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    before = set(sc.statusTracker().getJobIdsForGroup())
    fanned = spread(joined)
    assert set(sc.statusTracker().getJobIdsForGroup()) - before == set()
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({n})" in plan, plan


def test_repetition_fraction_flags_looping_text(spark):
    """A looping doc must show high duplicate-n-gram fractions; a
    all-distinct doc must show zero."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        repetition_fraction,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam ham " * 50),           # 2-gram loop
            (2, "a b c d e f g h i j"),      # all distinct
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.d2, r.d3)
        for r in docs.select(
            "doc_id",
            repetition_fraction("text", 2).alias("d2"),
            repetition_fraction("text", 3).alias("d3"),
        ).collect()
    }
    assert rows[1][0] > 0.9 and rows[1][1] > 0.9
    assert rows[2] == (0.0, 0.0)


def test_pii_scrub_redacts_and_counts(spark):
    """Crafted PII must be counted per kind and replaced with tokens;
    clean text must pass through untouched."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        pii_scrub,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org then call 555-123-4567"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].n_email == 2 and rows[1].n_phone == 1
    assert "@" not in rows[1].scrubbed and "555" not in rows[1].scrubbed
    assert rows[1].scrubbed.count("<EMAIL>") == 2
    assert rows[1].scrubbed.count("<PHONE>") == 1
    assert rows[2].n_email == 0 and rows[2].n_phone == 0
    assert rows[2].scrubbed == "nothing sensitive here"


def test_simhash_bucket_cap_observed_drop_metrics(spark):
    """SimHash's bucket cap must report dropped buckets/members via
    Observation (same contract as minhash_candidates): a 1000-doc
    identical-simhash cluster without pre-dedup trips the cap in every
    band and is dropped, not expanded."""
    from pyspark.sql import Observation

    from hubsit_health_analytics_etl_spark.operators.dedup import (
        SIMHASH_BANDS,
        simhash_candidate_pairs,
    )

    spam = [(i, "buy cheap pills now best price online pharmacy deal")
            for i in range(1000)]
    distinct = [
        (2000 + i, f"the quick brown fox number {i} jumps over the lazy dog {i}")
        for i in range(5)
    ]
    docs = spark.createDataFrame(spam + distinct, "doc_id long, text string")
    obs = Observation("simhash")
    out = simhash_candidate_pairs(
        docs, bucket_cap=64, pre_exact_dedup=False, observation=obs
    )
    n = out.count()
    assert n < 1000 * 999 // 2  # never the quadratic expansion
    assert obs.get["dropped_buckets"] >= SIMHASH_BANDS
    assert obs.get["dropped_members"] >= SIMHASH_BANDS * 1000


def test_winnow_df_cap_observed_drop_metrics(spark):
    """winnow_candidate_pairs' df_cap must report dropped buckets and
    members via Observation (same contract as the LSH caps): a shared
    boilerplate paragraph across 60 docs tips its fingerprint buckets
    over the cap and the drop is counted, not silent."""
    from pyspark.sql import Observation

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        winnow_candidate_pairs,
    )

    boiler = "all rights reserved this document is provided as is without warranty of any kind either express or implied"
    shared = " ".join(f"word{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique trailer {i}") for i in range(60)]
        # survivor near-dup cluster below the cap (a realistic corpus is
        # never 100% drops — and AQE empty-propagation would lose the
        # CollectMetrics node on an all-dropped plan, see docstring)
        + [(100 + i, shared) for i in range(3)],
        "doc_id long, text string",
    )
    obs = Observation("winnow")
    out = winnow_candidate_pairs(docs, df_cap=50, observation=obs)
    n = out.count()
    assert 0 < n < 60 * 59 // 2  # survivors only — no quadratic expansion
    assert obs.get["dropped_buckets"] >= 1
    assert obs.get["dropped_members"] >= 60


def test_ngram_df_cap_observed_drop_metrics(spark):
    """ngram_jaccard_pairs' optional df_cap must report dropped
    shingles/postings via Observation so the recall loss it buys at
    corpus scale is auditable."""
    from pyspark.sql import Observation

    from hubsit_health_analytics_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    boiler = "terms of service apply to all users of this website"
    docs = spark.createDataFrame(
        [(i, f"{boiler} extra words {i}") for i in range(40)]
        # survivor cluster: shared shingles with df=3, under the cap
        + [(100 + i, "an entirely distinctive sentence repeated verbatim here")
           for i in range(3)],
        "doc_id long, text string",
    )
    obs = Observation("ngram")
    capped = ngram_jaccard_pairs(docs, 0.1, df_cap=20, observation=obs)
    n_capped = capped.count()
    assert n_capped > 0
    assert obs.get["dropped_shingles"] >= 1
    assert obs.get["dropped_postings"] >= 40
    # and the uncapped exact path finds strictly more pairs
    assert n_capped < ngram_jaccard_pairs(docs, 0.1).count()


def test_incremental_minhash_cap_observed_drop_metrics(spark):
    """incremental_minhash_candidates' union-bucket cap must report
    dropped buckets/members via Observation: a batch probing an index
    whose buckets are already hot sees the drop counted."""
    from pyspark.sql import Observation

    from hubsit_health_analytics_etl_spark.operators.dedup import (
        incremental_minhash_candidates,
        minhash_signature_index,
    )

    spam = "limited offer click here to claim your free prize today only"
    plain = "a perfectly ordinary and unique sentence nobody else wrote"
    corpus = spark.createDataFrame(
        [(i, spam) for i in range(50)] + [(60, plain)],
        "doc_id long, text string",
    )
    # batch duplicates the one plain doc (2-member buckets survive the
    # cap) while its spam doc probes only dropped buckets
    batch = spark.createDataFrame(
        [(1000, spam), (1001, plain)], "doc_id long, text string"
    )
    bands, shingles = minhash_signature_index(corpus)
    obs = Observation("inc_minhash")
    out = incremental_minhash_candidates(
        batch, bands, shingles, bucket_cap=8, observation=obs
    )
    rows = out.collect()
    assert (60, 1001) in {(r.doc_a, r.doc_b) for r in rows}
    assert len(rows) < 50  # the 51-member spam buckets were dropped, not probed
    assert obs.get["dropped_buckets"] >= 1
    assert obs.get["dropped_members"] >= 50


def test_incremental_exact_dedup_handles_id_interleaving(spark):
    """rep_id must be the min id over corpus UNION batch per
    fingerprint — including when a batch id is SMALLER than the
    indexed representative (ids interleave across ingests)."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        exact_fingerprint_index,
        incremental_exact_dedup,
    )

    corpus = spark.createDataFrame(
        [(5, "alpha beta"), (10, "gamma delta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "  ALPHA   beta "),   # dup of 5, smaller id -> new keeper
            (7, "fresh text"),        # unseen fp -> keeper
            (12, "gamma delta"),      # dup of 10, larger id -> not keeper
            (13, "fresh text"),       # in-batch dup of 7
        ],
        "doc_id long, text string",
    )
    index = exact_fingerprint_index(corpus)
    got = {
        r.doc_id: (r.rep_id, r.is_keeper)
        for r in incremental_exact_dedup(batch, index).collect()
    }
    assert got == {1: (1, 1), 7: (7, 1), 12: (10, 0), 13: (7, 0)}


def test_embedding_quantize_codes_and_reconstruction_bound(spark):
    """int8 codes must span [0, 255] with endpoints hit (min/max map
    to 0/255), and dequantization mn + q*scale must reconstruct every
    dim within scale/2."""
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    v = "cast(embedding as array<double>)"
    checked = emb.select(
        F.expr(
            f"transform(array(struct(array_min({v}) AS mn, "
            f"(array_max({v}) - array_min({v})) / 255.0d AS sc, {v} AS v)), p -> "
            "aggregate(p.v, struct(0 AS bad, 999 AS qmin, -999 AS qmax), (acc, x) -> "
            "struct(acc.bad + CASE WHEN abs(x - (p.mn + round((x - p.mn) / p.sc) * p.sc)) "
            "> p.sc / 2 + 1e-12 THEN 1 ELSE 0 END, "
            "least(acc.qmin, cast(round((x - p.mn) / p.sc) as int)), "
            "greatest(acc.qmax, cast(round((x - p.mn) / p.sc) as int))))"
            ")[0]"
        ).alias("r")
    ).collect()
    for row in checked:
        assert row.r.bad == 0
        assert row.r.qmin == 0 and row.r.qmax == 255


def test_token_pack_bins_respect_budget(spark):
    """Every (shard, bin) must hold docs whose cumulative START
    offsets share one budget window: bin token sum ≤ budget + the
    bin's largest doc (the straggler that crosses the boundary)."""
    from hubsit_health_analytics_etl_spark.workload import QUERIES
    from hubsit_health_analytics_etl_spark.workloads.w06_joins_chunking import (
        PACK_BUDGET,
    )

    out = QUERIES["token_pack_bins"](spark, SF_SMOKE)
    agg = (
        out.groupBy("shard", "bin")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert len(agg) > 1
    for r in agg:
        assert r.tot <= PACK_BUDGET + r.mx


def test_pq_beats_trivial_quantizer_and_chance_recall(spark):
    """PQ quality floor: reconstruction MSE must beat the single
    global-centroid quantizer, ADC recall@5 vs exact L2 must be far
    above chance (5/499 ≈ 0.01), and every vector must carry 8 codes
    in [0, 10) — 32x smaller than the float64 vectors."""
    import numpy as np

    from hubsit_health_analytics_etl_spark import workload as w

    from .conftest import SF_SMOKE

    rows = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    codes_rows = w.QUERIES["embedding_pq_codes"](spark, SF_SMOKE).collect()
    assert len(codes_rows) == len(V)
    for r in codes_rows[:20]:
        parts = [int(c) for c in r.codes.split("-")]
        assert len(parts) == 8 and all(0 <= c < 10 for c in parts)
    g = np.mean(np.stack(list(V.values())), axis=0)
    trivial = float(np.mean([np.mean((v - g) ** 2) for v in V.values()]))
    assert float(np.mean([r.mse for r in codes_rows])) < trivial

    exact = {
        q: {i for _, i in sorted(
            (float(np.sum((V[q] - v) ** 2)), i) for i, v in V.items() if i != q
        )[:5]}
        for q in range(20)
    }
    got = {}
    for r in w.QUERIES["ann_pq_adc_topk"](spark, SF_SMOKE).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(exact[q] & got.get(q, set())) for q in range(20)) / 100
    assert recall >= 0.1  # measured 0.14 on this fixture; chance is ~0.01


def test_pq_encode_is_map_only(spark):
    """The PQ encode must run inside the scan stage (literal codebooks,
    zero shuffles) — the only allowed exchange is spread's round-robin
    fan-out."""
    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    from .conftest import SF_SMOKE

    p = physical_plan(w.QUERIES["embedding_pq_codes"](spark, SF_SMOKE))
    body = p.split("== Physical Plan ==")[-1]
    n_ex = body.count("Exchange")
    n_rr = body.count("REPARTITION_BY_NUM") + body.lower().count("roundrobin")
    assert n_ex <= n_rr, p


def test_pq_trained_codebooks_beat_label_mean(spark):
    """The trained PQ path (per-subspace seeded Spark ML KMeans) must
    dominate the label-mean stand-in it replaces, at the same codeword
    budget (k=10=|labels|): reconstruction MSE <= the label-mean
    codebooks' (KMeans minimizes exactly that objective), and ADC
    recall@5 vs exact L2 >= the label-mean PQ path's. Measured on this
    fixture: mse 0.0096 vs 0.0136, recall 0.17 vs 0.14."""
    import numpy as np

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        pq_codebooks_kmeans,
        pq_codebooks_label_mean,
        pq_encode_exprs,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w08_ann_composites import (
        PQ_TRAINED_K,
    )

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    trained = pq_codebooks_kmeans(emb, k=PQ_TRAINED_K)
    label = pq_codebooks_label_mean(emb)
    assert len(trained) == len(label) == 8
    assert all(len(cb) == PQ_TRAINED_K for cb in trained)
    _, mse_t = pq_encode_exprs(trained)
    _, mse_l = pq_encode_exprs(label)
    mt = emb.select(F.avg(mse_t)).first()[0]
    ml = emb.select(F.avg(mse_l)).first()[0]
    assert mt <= ml, f"trained mse {mt} > label-mean {ml}"

    # label-mean ADC recall vs exact L2 (same truth the trained query
    # measures against: ties broken by (distance, neighbor id))
    rows = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    exact = {
        q: {i for _, i in sorted(
            (float(np.sum((V[q] - v) ** 2)), i) for i, v in V.items() if i != q
        )[:5]}
        for q in range(20)
    }
    got = {}
    for r in w.QUERIES["ann_pq_adc_topk"](spark, SF_SMOKE).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall_label = sum(len(exact[q] & got.get(q, set())) for q in range(20)) / 100

    row = w.QUERIES["ann_pq_trained_recall"](spark, SF_SMOKE).collect()[0]
    assert row.n_total == 100
    assert row.recall_at_k >= recall_label, (
        f"trained recall {row.recall_at_k} < label-mean {recall_label}"
    )
    assert abs(row.mse - mt) < 1e-4  # the query reports the trained mse


def test_ivf_forget_rewrites_only_affected_cells(spark, tmp_path):
    """Deletion must touch only the cells holding a deleted vector
    (untouched cell files stay byte-identical on disk), must remove
    the vector from read-back, and must fail loudly rather than empty
    a cell (dynamic overwrite cannot delete a partition)."""
    import os

    import pytest

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        ivf_forget_vectors,
    )

    assigned = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 2)],
        "vec_id long, cell int",
    )
    path = str(tmp_path / "ivf")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

    def files_of(cell):
        d = os.path.join(path, f"cell={cell}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_c1 = files_of(1)
    deleted = spark.createDataFrame([(2,)], "vec_id long")
    ivf_forget_vectors(assigned, deleted, path)
    back = {r["vec_id"] for r in spark.read.parquet(path).collect()}
    assert back == {1, 3, 4, 5, 6}
    assert files_of(1) == before_c1  # untouched cell not rewritten

    # deleting 6 would empty cell 2 -> loud failure, index unchanged
    with pytest.raises(RuntimeError, match="empty"):
        ivf_forget_vectors(assigned, spark.createDataFrame([(6,)], "vec_id long"), path)
    assert {r["vec_id"] for r in spark.read.parquet(path).collect()} == {1, 3, 4, 5, 6}


def test_ivf_forget_matches_pure_python_reference(spark, tmp_path):
    """ivf_forget_vectors against set arithmetic on a crafted index:
    after each forget the read-back (vec_id, cell) rows equal the
    reference ``cell -> ids - deleted``, and every cell the reference
    leaves unchanged keeps its files byte-identical with the same
    mtimes. Covers duplicate deleted ids over two cells, ids absent
    from the index (no cell touched at all), and a deletion that would
    empty a cell (raises; nothing on disk changes)."""
    import os

    import pytest

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        ivf_forget_vectors,
    )

    ref = {0: {1, 2, 3, 4}, 1: {10, 11, 12}, 2: {20, 21}, 3: {30}}
    path = str(tmp_path / "ivf")

    def frame(index):
        rows = [(v, c) for c, ids in index.items() for v in sorted(ids)]
        return spark.createDataFrame(rows, "vec_id long, cell int")

    def snapshot():
        snap = {}
        for cell_dir in sorted(os.listdir(path)):
            d = os.path.join(path, cell_dir)
            if not os.path.isdir(d):
                continue
            snap[cell_dir] = {}
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    fp = os.path.join(d, f)
                    with open(fp, "rb") as fh:
                        snap[cell_dir][f] = (os.stat(fp).st_mtime_ns, fh.read())
        return snap

    def read_back():
        out = {}
        for r in spark.read.parquet(path).collect():
            out.setdefault(r["cell"], set()).add(r["vec_id"])
        return out

    def forget(index, deleted_ids):
        d = set(deleted_ids)
        after = {c: ids - d for c, ids in index.items()}
        if any(not ids for ids in after.values()):
            raise RuntimeError("would empty a cell")
        return after

    frame(ref).write.mode("overwrite").partitionBy("cell").parquet(path)
    cases = [
        [2, 2, 11, 4, 11],  # duplicates; cells 0 and 1 affected
        [99, 100, 99],  # absent from the index: a no-op
    ]
    for ids in cases:
        before = snapshot()
        expect = forget(ref, ids)
        deleted = spark.createDataFrame([(i,) for i in ids], "id long")
        ivf_forget_vectors(frame(ref), deleted, path)
        assert read_back() == expect
        after = snapshot()
        for c in ref:
            if expect[c] == ref[c]:
                assert after[f"cell={c}"] == before[f"cell={c}"], (ids, c)
        ref = expect
    assert ref == {0: {1, 3}, 1: {10, 12}, 2: {20, 21}, 3: {30}}

    # 30 is cell 3's last vector: the reference refuses, and so must the
    # operator — before it rewrites cell 0 for id 1
    before = snapshot()
    with pytest.raises(RuntimeError, match="empty"):
        forget(ref, [1, 30])
    deleted = spark.createDataFrame([(1,), (30,)], "vec_id long")
    with pytest.raises(RuntimeError, match="empty 1 cell"):
        ivf_forget_vectors(frame(ref), deleted, path)
    assert snapshot() == before
    assert read_back() == ref


def test_embedding_pca_reduce_finds_optimal_subspace(spark):
    """Spark ML PCA must land in the SAME top-K subspace as a local
    eigendecomposition of the centered covariance: projected energy
    matches numpy's within 1% (the subspace is unique up to rotation,
    so energy — not component signs — is the comparable invariant),
    the 16/64 cut captures a non-trivial variance share, the collected
    component literals are orthonormal and sign-canonicalized, and the
    literal-matmul projection matches numpy's X @ Pᵀ."""
    import numpy as np

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        pca_components,
        pca_project_expr,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w12_retrieval_sketches import (
        PCA_K,
    )

    embdf = load_table(spark, SF_SMOKE, "embeddings")
    pc = pca_components(embdf, PCA_K)
    P = np.array(pc, dtype=np.float64)  # (K, 64)
    assert P.shape[0] == PCA_K

    # collected literals: orthonormal (6dp rounding tolerance) and
    # sign-canonicalized (largest-|w| entry positive per component)
    assert np.allclose(P @ P.T, np.eye(PCA_K), atol=1e-4)
    for j in range(PCA_K):
        assert P[j, int(np.argmax(np.abs(P[j])))] > 0

    out = {
        r["vec_id"]: np.array(r["r"], dtype=np.float64)
        for r in embdf.select(
            "vec_id", pca_project_expr(pc).alias("r")
        ).collect()
    }
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in embdf.collect()
    }
    assert set(out) == set(emb)
    X = np.stack([emb[k] for k in sorted(emb)])
    R = np.stack([out[k] for k in sorted(out)])
    assert R.shape == (X.shape[0], PCA_K)

    # literal-matmul projection == numpy matmul (6dp rounding on both)
    assert np.allclose(R, np.round(X @ P.T, 6), atol=2e-6)

    cov = np.cov(X, rowvar=False)
    vals, vecs = np.linalg.eigh(cov)
    Pnp = vecs[:, np.argsort(vals)[::-1][:PCA_K]]
    energy_np = float(np.sum((X @ Pnp) ** 2))
    energy_spark = float(np.sum(R**2))
    assert abs(energy_spark - energy_np) <= 0.01 * energy_np

    # the projection keeps a meaningful share of total energy
    assert energy_spark >= 0.25 * float(np.sum(X**2))


def test_embedding_pca_reduce_query_driver_contract(spark):
    """The registered query emits ONLY driver-canonicalizable scalar
    columns (VERDICT r7 #1: a raw array<float> crashed the gate), with
    energy/error scalars consistent: kept + dim·err ≈ total energy."""
    import numpy as np

    from hubsit_health_analytics_etl_spark import workload as w

    df = w.QUERIES["embedding_pca_reduce"](spark, SF_SMOKE)
    from pyspark.sql.types import ArrayType, MapType, StructType

    for f in df.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), f
    rows = df.collect()
    assert len(rows) > 0
    sigs = {r["reduced_sig"] for r in rows}
    assert len(sigs) == len(rows)  # distinct vectors -> distinct sigs
    for r in rows:
        assert 0 <= r["energy_kept_u6"] <= 1_000_000
        assert r["recon_err_u6"] >= 0
    # on this corpus the 16/64 PCA cut keeps most energy on average
    assert float(np.mean([r["energy_kept_u6"] for r in rows])) >= 250_000.0


def test_event_funnel_tie_and_deadline_semantics(spark, tmp_path):
    """Crafted stream pins the funnel contract: same-timestamp steps
    qualify only in event_id order (the strictly-prior ROWS frame),
    and a step past the conversion deadline does not count."""
    import datetime

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.workloads.w10_dataset_build import (
        FUNNEL_WINDOW_MIN,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (
            eid,
            t0 + datetime.timedelta(minutes=minutes),
            uid,
            typ,
            1.0,
            "{}",
        )

    rows = [
        # user 1: view -> click SAME ts, event_id after -> qualifies;
        # purchase inside deadline -> full funnel
        ev(1, 1, "view", 0),
        ev(2, 1, "click", 0),
        ev(3, 1, "purchase", 10),
        # user 2: click BEFORE its view in event order (same ts) ->
        # click does not qualify
        ev(4, 2, "click", 0),
        ev(5, 2, "view", 0),
        # user 3: click past the deadline -> does not qualify
        ev(6, 3, "view", 0),
        ev(7, 3, "click", FUNNEL_WINDOW_MIN + 1),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["step"]: r["n_users"]
        for r in w.QUERIES["event_funnel"](spark, d).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_opq_stack_quality_bounds(spark):
    """The rotate→quantize stack's quality contract (all in the exact
    int64 micro-unit chain, so every number here is deterministic):

    - eigenvalue allocation WORKS: OPQ-balanced rotation yields lower
      quantization error than BOTH the identity (unrotated) path and
      the contiguous-slice PCA rotation (the naive chaining it
      replaces) — the quantity OPQ's round-robin component deal
      optimizes (Ge et al. CVPR'13 §4);
    - recall@20 vs exact L2 ground truth: OPQ ≥ the unrotated path
      (at the fixture's K=5 the 100-pair sample is noise-dominated —
      measured 0.10 vs 0.14 — while at K=20/400 pairs the ordering is
      stable: 0.25 vs 0.2275; asserted at K=20), and the Hadamard
      rotation clears a recall floor."""
    import numpy as np
    from pyspark.sql import Window

    from hubsit_health_analytics_etl_spark.operators.similarity import (
        EMBED_DIM,
        hadamard_rotation,
        opq_balance_components,
        pca_components,
        pq_codebooks_floor_u6,
        pq_encode_u6_exprs,
        project_u6_expr,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_QUERY_LIMIT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w12_retrieval_sketches import (
        _rot_pq_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ident = [
        [1.0 if i == j else 0.0 for i in range(EMBED_DIM)]
        for j in range(EMBED_DIM)
    ]
    comps = pca_components(emb, EMBED_DIM)
    bal = opq_balance_components(comps)

    def mean_sq_err(components):
        rot = emb.select(
            "label", project_u6_expr(components, "embedding").alias("rot")
        )
        cb = pq_codebooks_floor_u6(rot, vec_col="rot")
        _, sq = pq_encode_u6_exprs(cb, vec_col="rot")
        return float(rot.agg(F.avg(sq)).collect()[0][0])

    err_ident = mean_sq_err(ident)
    err_bal = mean_sq_err(bal)
    err_contig = mean_sq_err(comps)
    assert err_bal < err_ident, (err_bal, err_ident)
    assert err_bal < err_contig, (err_bal, err_contig)

    K = 20
    q = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    l2 = F.expr(
        "aggregate(zip_with(q_vec, c_vec, (x, y) -> "
        "(cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double))), 0D, (acc, v) -> acc + v)"
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("neighbor_id").asc()
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", F.round(l2, 9).alias("l2"))
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= K)
            .select("query_id", "neighbor_id")
        ).collect()
    }

    def recall(components):
        got = {
            (r.query_id, r.neighbor_id)
            for r in _rot_pq_topk(spark, SF_SMOKE, components, k=K).collect()
        }
        return len(got & exact) / len(exact)

    r_ident, r_bal, r_had = (
        recall(ident),
        recall(bal),
        recall(hadamard_rotation()),
    )
    assert r_bal >= r_ident, (r_bal, r_ident)
    assert r_bal >= 0.2 and r_had >= 0.2 and r_ident >= 0.2


def test_rot_pq_adc_matches_independent_integer_replica(spark):
    """ann_rot_pq_adc_topk's exactness claim, checked against a THIRD
    implementation (numpy int64, besides Spark and the DuckDB oracle):
    rotating with the same Hadamard literals, flooring the same
    averages, and encoding/scoring in pure integer arithmetic must
    reproduce every adc_u bit-for-bit — no tolerance."""
    import numpy as np

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        PQ_M,
        PQ_SUB_DIM,
        hadamard_rotation,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_K,
        ANN_QUERY_LIMIT,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    vec_ids = np.array([r.vec_id for r in emb])
    labels = np.array([r.label for r in emb])
    X = np.stack([np.array(r.embedding, dtype=np.float64) for r in emb])
    H = np.array(hadamard_rotation())
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
                ((R[:, s * sd : (s + 1) * sd][:, None, :] - cb[s][None]) ** 2).sum(
                    -1
                ),
                1,
            )
            for s in range(PQ_M)
        ],
        1,
    )
    out = w.QUERIES["ann_rot_pq_adc_topk"](spark, SF_SMOKE).collect()
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


def _py_bpe_reference(words: dict, k: int):
    """Independent textbook BPE on symbol LISTS (no string tricks):
    count adjacent pairs corpus-weighted, merge the (count desc,
    pair asc) argmax greedily left-to-right restarting after each
    merge, repeat."""
    seqs = {w: list(w) for w in words}
    merges = []
    for r in range(1, k + 1):
        counts: dict = {}
        for w, n in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + n
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + "\n" + kv[0][1])
        )
        merges.append((r, a, b, a + b, cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_bpe_train_matches_python_reference_on_crafted_corpus(spark):
    """The driver-sequenced merge loop vs an independent pure-Python
    symbol-list BPE on a crafted corpus that includes the self-overlap
    run case ('aaaa' → [aa, aa], restart-after-merge — the spot where
    naive space-delimited replace encodings diverge from textbook
    BPE), tie-break cases, and multi-round cascades (er → low+er)."""
    from collections import Counter

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        bpe_apply_merges,
        bpe_seq_table,
        bpe_train_merges,
        bpe_word_table,
    )

    texts = [
        "low low low lower lower lowest",
        "aaaa aaaa aaa newer newest wider",
        "low lower Newer! WIDER, wide wide4wide",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    words = Counter()
    for t in texts:
        import re

        words.update(re.findall(r"[a-z]+", t.lower()))
    k = 8
    expected_merges, expected_seqs = _py_bpe_reference(dict(words), k)
    got = bpe_train_merges(docs, k)
    assert got == expected_merges, (got, expected_merges)

    # applying the trained merges reproduces the reference's final
    # symbol sequences for every word
    final = bpe_apply_merges(bpe_seq_table(bpe_word_table(docs)), got)
    got_seqs = {
        tuple(x for x in r.seq.split("\x01") if x != "") for r in final.collect()
    }
    assert got_seqs == {tuple(s) for s in expected_seqs.values()}


def test_bpe_round_plans_single_shuffle(spark):
    """One merge round = ONE exchange (the partial→final pair-count
    aggregation); the argmax rides TakeOrderedAndProject, never a
    global sort."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        bpe_pair_counts_round,
        bpe_seq_table,
        bpe_word_table,
    )
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    cur = bpe_seq_table(bpe_word_table(docs))
    pc = bpe_pair_counts_round(cur)
    # the word-table groupBy is the input artifact (persisted across
    # rounds in the loop); the ROUND itself adds exactly one exchange
    import re

    p = physical_plan(pc)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p  # word agg + pair agg
    best = pc.orderBy(F.col("cnt").desc(), F.col("pr").asc()).limit(1)
    assert "TakeOrderedAndProject" in physical_plan(best)


def test_bpe_local_path_matches_distributed_loop(spark):
    """The driver-local fast path (vocab ≤ BPE_LOCAL_VOCAB_CAP trains
    in one Python pass over the collected (seq, n) table) must be
    decision-for-decision identical to the distributed merge loop —
    same argmax, same tie-break, same non-overlapping rewrite. Run
    both on a corpus with ties, self-overlap runs ('aaaa') and
    cascaded merges, and on the parquet fixture's word table."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        bpe_train_merges_from_words,
        bpe_word_table,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    texts = [
        "low low low lower lower lowest",
        "aaaa aaaa aaa newer newest wider",
        "ab ba ab ba abba",  # count ties broken on pair string
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    for source in (
        bpe_word_table(docs),
        bpe_word_table(load_table(spark, SF_SMOKE, "documents")),
    ):
        local = bpe_train_merges_from_words(source, 8)
        dist = bpe_train_merges_from_words(source, 8, local_vocab_cap=None)
        assert local == dist, (local, dist)


def test_user_value_drift_psi_semantics_and_plan(spark, tmp_path):
    """Crafted corpus pins PSI drift semantics end-to-end through the
    registered query: a user whose two hash-halves share one
    distribution scores psi ~ 0 (drifted=0), a user whose halves sit
    in opposite value bins crosses the 0.2 alert (drifted=1). Also
    pins the no-Python claim: zero Arrow/Python eval stages in the
    physical plan (the whole point of the KS query's JVM twin)."""
    import pandas as pd

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.operators.sampling import hash_bucket
    from hubsit_health_analytics_etl_spark.plans.explain import physical_plan

    ids = spark.range(0, 400).select(F.col("id").alias("event_id"))
    side = (hash_bucket("event_id", 100, "drift") < 50).cast("int")
    ev = ids.select(
        "event_id",
        F.expr("timestamp_micros(cast(event_id * 1000000 as bigint))").alias("ts"),
        (F.col("event_id") % 2).cast("bigint").alias("user_id"),
        F.lit("click").alias("event_type"),
        side.alias("side"),
        F.lit("{}").alias("props"),
    ).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        # user 0: value independent of side (no drift); user 1: side a
        # lives at the bottom of the range, side b at the top
        F.when(F.col("user_id") == 0, (F.col("event_id") % 100).cast("double"))
        .otherwise(
            F.when(F.col("side") == 1, (F.col("event_id") % 10).cast("double"))
            .otherwise(90.0 + (F.col("event_id") % 10).cast("double"))
        )
        .alias("value"),
        "props",
    )
    ev.coalesce(1).write.parquet(f"{tmp_path}/events.parquet")
    out = {r.user_id: r for r in w.QUERIES["user_value_drift_psi"](
        spark, str(tmp_path)
    ).collect()}
    assert set(out) == {0, 1}
    assert out[0].drifted == 0 and out[0].psi_u6 < 200_000
    assert out[1].drifted == 1 and out[1].psi_u6 >= 200_000
    assert out[1].psi_u6 > out[0].psi_u6
    for r in out.values():
        assert r.n_a > 0 and r.n_b > 0 and r.psi_u6 >= 0

    p = physical_plan(w.QUERIES["user_value_drift_psi"](spark, SF_SMOKE))
    assert "EvalPython" not in p and "Python" not in p


def test_user_value_drift_ks_per_key_guard(spark):
    """The KS cogroup kernel must fail LOUDLY (not OOM) when one key's
    history exceeds the single-pandas-call guard."""
    import pandas as pd
    import pytest as _pytest

    # patch the defining family module: the kernel closure reads the
    # name from there
    import hubsit_health_analytics_etl_spark.workloads.w11_warehouse_ops as wmod

    old = wmod.DRIFT_KS_MAX_ROWS_PER_KEY
    wmod.DRIFT_KS_MAX_ROWS_PER_KEY = 10
    try:
        from hubsit_health_analytics_etl_spark import workload as w

        with _pytest.raises(Exception, match="single-.?cogroup"):
            w.QUERIES["user_value_drift_ks"](spark, SF_SMOKE).collect()
    finally:
        wmod.DRIFT_KS_MAX_ROWS_PER_KEY = old


def test_ngram_containment_catches_quote_inclusion_jaccard_misses(spark):
    """The asymmetry claim, pinned on a crafted corpus: a small doc
    fully embedded inside a much larger one scores containment 1.0
    (emitted as exactly 1_000_000 µ) while its Jaccard is far below
    the dedup threshold — plus an exhaustive pure-Python shingle
    reference over the whole crafted corpus (the BPE lesson: the
    oracle replays the same formula, so an independent implementation
    must pin the semantics)."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"word{i}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler.replace("word", "tail")),
            (3, "an unrelated tiny document entirely"),
        ],
        "doc_id int, text string",
    )
    cont = {
        (r.src_id, r.dst_id): r.containment_u6
        for r in ngram_containment_pairs(docs, 600_000).collect()
    }
    assert cont[(1, 2)] == 1_000_000  # quote fully contained
    assert (2, 1) not in cont  # big doc not contained in the quote
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, 0.0).collect()
    }
    assert jac[(1, 2)] < 0.1  # Jaccard blind to the inclusion

    # independent exhaustive reference over every directed pair
    def sh(t, k=3):
        toks = t.lower().split(" ")
        return {
            " ".join(toks[i : i + k])
            for i in range(max(len(toks) - k + 1, 1))
        }

    texts = {1: quote, 2: docs.collect()[1].text, 3: "an unrelated tiny document entirely"}
    shs = {i: sh(t) for i, t in texts.items()}
    expected = {}
    for a in shs:
        for b in shs:
            if a == b:
                continue
            inter = len(shs[a] & shs[b])
            if inter and (inter * 1_000_000) // len(shs[a]) >= 600_000:
                expected[(a, b)] = (inter * 1_000_000) // len(shs[a])
    assert cont == expected


def test_duplicate_span_report_crafted_boilerplate_injection(spark):
    """Substring-level dedup semantics on a crafted corpus: a 6-token
    boilerplate header and a 4-token tail block injected into two
    otherwise-unique documents (at DIFFERENT positions) must each
    surface as one maximal run per document — correct 1-based start,
    span_tokens = run extent + k - 1 grams collapsed — while a fully
    unique doc emits nothing and a WITHIN-doc repetition (gram df = 1,
    distinct-doc count) is invisible, pinning that the decision table
    keys on cross-document sharing only."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        duplicate_span_report,
    )

    header = "c1 c2 c3 c4 c5 c6"  # 6 tokens -> 3 grams at k=4
    tail = "t1 t2 t3 t4"  # 4 tokens -> 1 gram at k=4
    docs = spark.createDataFrame(
        [
            (1, f"{header} u1 u2 u3 {tail}"),
            (2, f"v1 v2 {header} v3 v4 {tail}"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (5, "x1 x2 x3 x4 x1 x2 x3 x4"),  # self-repeat only: df=1
        ],
        "doc_id int, text string",
    )
    rows = {
        (r.doc_id, r.span_start): (r.span_tokens, r.n_grams)
        for r in duplicate_span_report(docs, k=4).collect()
    }
    assert rows == {
        # doc 1: header at token 1 (grams 1-3), tail at token 10
        (1, 1): (6, 3),
        (1, 10): (4, 1),
        # doc 2: same blocks shifted -- header at 3 (grams 3-5), tail at 11
        (2, 3): (6, 3),
        (2, 11): (4, 1),
        # docs 3 and 5 emit nothing
    }


def test_duplicate_span_report_short_doc_and_adjacent_runs(spark):
    """Docs shorter than k grams emit nothing (guard branch), and two
    shared blocks separated by ONE unique token stay separate islands
    (the gaps-and-islands window must not bridge a 1-gram gap)."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        duplicate_span_report,
    )

    a = "s1 s2 s3 s4"
    b = "z1 z2 z3 z4"
    docs = spark.createDataFrame(
        [
            (1, f"{a} gap {b}"),  # blocks at 1 and 6; grams 1 and 6 shared, 2-5 unique
            (2, f"{a} other filler {b}"),
            (3, "too short"),  # < k tokens
        ],
        "doc_id int, text string",
    )
    rows = {
        (r.doc_id, r.span_start): (r.span_tokens, r.n_grams)
        for r in duplicate_span_report(docs, k=4).collect()
    }
    assert rows == {
        (1, 1): (4, 1),
        (1, 6): (4, 1),
        (2, 1): (4, 1),
        (2, 7): (4, 1),
    }


def test_scrub_duplicate_spans_owner_keeps_content(spark):
    """The rewrite rule, pinned on the same crafted corpus as the span
    report: the canonical owner (min doc_id per gram) keeps its text
    untouched, every other doc cuts the covered token ranges, unique
    and self-repeating docs ride through — and no corpus content is
    lost (every duplicated gram survives in its owner)."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        scrub_duplicate_spans,
    )

    header = "c1 c2 c3 c4 c5 c6"
    tail = "t1 t2 t3 t4"
    d1 = f"{header} u1 u2 u3 {tail}"
    d2 = f"v1 v2 {header} v3 v4 {tail}"
    docs = spark.createDataFrame(
        [
            (1, d1),
            (2, d2),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (5, "x1 x2 x3 x4 x1 x2 x3 x4"),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: (r.scrubbed_text, r.n_tokens_kept, r.n_tokens_removed)
        for r in scrub_duplicate_spans(docs, k=4).collect()
    }
    assert out[1] == (d1, 13, 0)  # owner of every shared gram: untouched
    # doc 2 cuts header (tokens 3-8) and tail (tokens 11-14)
    assert out[2] == ("v1 v2 v3 v4", 4, 10)
    assert out[3] == ("w1 w2 w3 w4 w5 w6 w7 w8", 8, 0)
    assert out[5] == ("x1 x2 x3 x4 x1 x2 x3 x4", 8, 0)  # df=1: not shared
    # content preservation: the duplicated blocks still exist in doc 1
    assert header in out[1][0] and tail in out[1][0]


def test_scrub_duplicate_spans_min_span_threshold(spark):
    """min_span_tokens: a short shared phrase (one k-gram) survives the
    scrub while a long shared block is still cut — the Lee et al.
    deployment posture; with the knob off, both are cut."""
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        scrub_duplicate_spans,
    )

    short = "p1 p2 p3 p4"  # 4 tokens = exactly one gram at k=4
    longb = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"  # 10 tokens, 7 grams
    docs = spark.createDataFrame(
        [
            (1, f"{short} a1 a2 {longb}"),
            (2, f"b1 b2 {short} b3 b4 {longb} b5"),
        ],
        "doc_id int, text string",
    )
    # knob off: doc 2 (non-owner) loses both blocks
    off = {
        r.doc_id: r.scrubbed_text
        for r in scrub_duplicate_spans(docs, k=4).collect()
    }
    assert off[2] == "b1 b2 b3 b4 b5"
    # threshold above the short block, below the long one
    on = {
        r.doc_id: (r.scrubbed_text, r.n_tokens_removed)
        for r in scrub_duplicate_spans(docs, k=4, min_span_tokens=8).collect()
    }
    assert on[1][0] == f"{short} a1 a2 {longb}"  # owner untouched either way
    assert on[2] == (f"b1 b2 {short} b3 b4 b5", 10)  # only the long block cut


def test_scrub_new_batch_owner_semantics_across_ingest(spark):
    """Ingest-time scrub == full recompute restricted to the batch,
    pinned on a crafted split: a batch doc sharing a block with an
    older corpus doc is cut (corpus doc owns), a batch doc that IS the
    global owner keeps its text even though a corpus doc shares it,
    and blocks shared only WITHIN the batch scrub against each other."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        _doc_grams,
        apply_cut_positions,
        gram_ownership_index,
    )

    A = "a1 a2 a3 a4"  # corpus-owned (doc 10 < batch ids)
    B = "b1 b2 b3 b4"  # batch doc 20 is the GLOBAL min owner
    C = "c1 c2 c3 c4"  # shared only within the batch (20 owns)
    corpus = spark.createDataFrame(
        [(10, f"{A} x1 x2"), (30, f"y1 {B} y2")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(20, f"{B} {C} z1"), (25, f"w1 {A} {C}")],
        "doc_id int, text string",
    )
    k = 4
    idx = gram_ownership_index(_doc_grams(corpus, k)).withColumnsRenamed(
        {"df": "df_c", "owner": "owner_c"}
    )
    bg = _doc_grams(batch, k)
    merged = (
        gram_ownership_index(bg)
        .join(idx, "gh", "left")
        .select(
            "gh",
            (F.col("df") + F.coalesce(F.col("df_c"), F.lit(0))).alias("df_tot"),
            F.least(
                F.col("owner"), F.coalesce(F.col("owner_c"), F.col("owner"))
            ).alias("owner_tot"),
        )
        .filter(F.col("df_tot") >= 2)
        .select("gh", "owner_tot")
    )
    cut = bg.join(merged, "gh").filter(F.col("doc_id") != F.col("owner_tot"))
    out = {
        r.doc_id: r.scrubbed_text
        for r in apply_cut_positions(batch, cut, k).collect()
    }
    assert set(out) == {20, 25}  # batch docs only — corpus never rewritten
    # doc 20 owns B (20 < 30) and C (20 < 25): fully kept
    assert out[20] == f"{B} {C} z1"
    # doc 25: A owned by corpus doc 10 -> cut; C owned by 20 -> cut
    assert out[25] == "w1"


def test_scrub_duplicate_spans_matches_pure_python_reference(spark):
    """Independent cross-check (the repo rule: a DuckDB hash match
    cannot catch an algorithm bug BOTH engines share): a pure-Python
    gram/owner/cut scrub over a seeded random corpus (tiny vocabulary
    to force heavy cross-doc gram collisions) must agree with the
    Spark operator row for row."""
    import random

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        scrub_duplicate_spans,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(6)]  # 6 words -> many shared 3-grams
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(40)
    ]
    k = 3

    # pure-Python reference: same rule, written independently
    toks = {i: t.lower().split(" ") for i, t in rows}
    owner: dict[tuple, int] = {}
    docs_with: dict[tuple, set] = {}
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            g = tuple(ts[p : p + k])
            docs_with.setdefault(g, set()).add(i)
            owner[g] = min(owner.get(g, i), i)
    expected = {}
    for i, ts in toks.items():
        cut_positions = set()
        for p in range(len(ts) - k + 1):
            g = tuple(ts[p : p + k])
            if len(docs_with[g]) >= 2 and owner[g] != i:
                cut_positions.update(range(p, p + k))
        kept = [t for j, t in enumerate(ts) if j not in cut_positions]
        expected[i] = (" ".join(kept), len(kept), len(ts) - len(kept))

    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.scrubbed_text, r.n_tokens_kept, r.n_tokens_removed)
        for r in scrub_duplicate_spans(docs, k=k).collect()
    }
    assert got == expected
    # sanity: the corpus actually exercised both branches
    assert any(v[2] > 0 for v in expected.values())
    assert any(v[2] == 0 for v in expected.values())


def test_scrub_after_dedup_ownership_transfer_and_desharing(spark):
    """The doc-level x substring-level interaction corpus_scrub_pipeline
    exists to pin, on an explicit duplicate graph:

    - OWNERSHIP TRANSFER: block B lives in dropped near-dup 2 and kept
      doc 3. Full-corpus scrub cuts B from doc 3 (owner 2); scrub over
      the kept set keeps it — B's only other holder was dropped, so in
      the deduped corpus it is unique and doc 3 retains it.
    - DE-SHARING: block C lives only in keeper 1 and its dropped
      near-dup 2 -> post-dedup df=1, keeper keeps C untouched.
    - Still-shared blocks (H in kept docs 1 and 3) scrub normally:
      owner 1 keeps, doc 3 cuts."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        dedup_keep_list,
    )
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        scrub_duplicate_spans,
    )

    H = "h1 h2 h3 h4"
    B = "b1 b2 b3 b4"
    C = "c1 c2 c3 c4"
    docs = spark.createDataFrame(
        [
            (1, f"{H} {C} x1 x2"),       # keeper of {1, 2}
            (2, f"{C} {B} y1 y2"),       # near-dup of 1 (explicit edge) - dropped
            (3, f"{H} {B} z1 z2"),       # kept, shares H with 1 and B with 2
        ],
        "doc_id int, text string",
    )
    edges = spark.createDataFrame([(1, 2)], "doc_a int, doc_b int")
    k = 4

    keepers = (
        dedup_keep_list(docs, edges)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    kept = docs.join(keepers, "doc_id")
    piped = {
        r.doc_id: r.scrubbed_text
        for r in scrub_duplicate_spans(kept, k=k).collect()
    }
    naive = {
        r.doc_id: r.scrubbed_text
        for r in scrub_duplicate_spans(docs, k=k).collect()
    }

    assert set(piped) == {1, 3}  # doc 2 dropped by dedup
    # de-sharing: C unique post-dedup, keeper 1 fully intact
    assert piped[1] == f"{H} {C} x1 x2"
    # ownership transfer: doc 3 RETAINS B post-dedup (other holder
    # dropped) but still cuts H (shared with kept owner 1)
    assert piped[3] == f"{B} z1 z2"
    # contrast: the naive full-corpus scrub cuts B from doc 3 (owner 2)
    assert naive[3] == "z1 z2"


def test_bm25_matches_python_reference_on_crafted_corpus(spark):
    """bm25_scores vs an independently-written pure-Python BM25 (the
    oracle hash can't catch a formula bug BOTH engines share): Lucene
    idf ln(1+(N-df+0.5)/(df+0.5)), k1=1.2, b=0.75, doc-length
    normalization against avgdl, per-term fold in sorted-token order.
    Corpus crafts tf saturation (repeated terms), length contrast
    (short vs long docs) and an absent term (zero matches)."""
    import math
    from collections import Counter

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        bm25_scores,
    )

    texts = {
        0: "apple banana apple cherry",
        1: "banana banana durian durian durian banana fig fig fig fig",
        2: "cherry apple apple apple banana",
        3: "durian fig grape",
        4: "grape grape grape grape grape grape grape grape",
    }
    queries = {"qa": ["apple", "banana"], "qb": ["durian"], "qc": ["kiwi"]}

    toks = {d: [t for t in s.lower().split(" ") if t] for d, s in texts.items()}
    n_docs = float(len(texts))
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df = Counter()
    for ts in toks.values():
        df.update(set(ts))
    expected = {}
    for q, qts in queries.items():
        for d, ts in toks.items():
            tf = Counter(ts)
            total = 0.0
            for t in sorted(qts):
                if tf[t] == 0:
                    continue
                idf = math.log(
                    1.0 + (((n_docs - df[t]) + 0.5) / (df[t] + 0.5))
                )
                total += idf * (
                    (tf[t] * 2.2)
                    / (tf[t] + (1.2 * ((1.0 - 0.75) + (0.75 * (len(ts) / avgdl)))))
                )
            if any(tf[t] for t in qts):
                expected[(q, d)] = total

    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    qt = spark.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "query_id string, token string",
    )
    got = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(docs, qt).collect()
    }
    assert set(got) == set(expected)  # qc matches nothing
    for k, v in expected.items():
        assert abs(got[k] - v) <= 1e-12 * max(1.0, abs(v)), (k, got[k], v)
    # saturation sanity: doc 2 (tf=3 apple) must beat doc 0 (tf=2)
    assert got[("qa", 2)] > got[("qa", 0)]


def test_cms_matches_python_reference_and_never_undercounts(spark):
    """cms_counters/cms_estimate vs an independent pure-Python
    count-min sketch (hashlib.md5, same 'cms{i}|{key}' salting): the
    counter grid must be cell-identical, every estimate must equal the
    reference's min-over-rows, and the one-sided guarantee est ≥ exact
    must hold for every key. Skewed key list forces collisions
    (41 distinct keys into width 32)."""
    import hashlib
    from collections import Counter

    from hubsit_health_analytics_etl_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_counters,
        cms_estimate,
    )

    keys = [1] * 50 + [2] * 20 + [3] * 20 + list(range(4, 42)) * 2
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")

    def bucket(k, i):
        h = hashlib.md5(f"cms{i}|{k}".encode()).hexdigest()[:8]
        return int(h, 16) % CMS_WIDTH

    ref_counters = Counter()
    for k in keys:
        for i in range(CMS_DEPTH):
            ref_counters[(i, bucket(k, i))] += 1
    ref_est = {
        k: min(ref_counters[(i, bucket(k, i))] for i in range(CMS_DEPTH))
        for k in set(keys)
    }

    counters = cms_counters(df, "user_id")
    got_counters = {
        (r.row_i, r.bucket): r.c for r in counters.collect()
    }
    assert got_counters == dict(ref_counters)

    got_est = {
        r.user_id: r.est_count
        for r in cms_estimate(df.distinct(), counters, "user_id").collect()
    }
    assert got_est == ref_est
    exact = Counter(keys)
    assert all(got_est[k] >= exact[k] for k in exact)


def test_rrf_fuse_matches_hand_computed_fusion(spark):
    """rrf_fuse vs hand-computed reciprocal-rank fusion on crafted
    rank tables covering all three membership cases (both sources,
    lex-only, sem-only) and the absent-rank-as-0 contract."""
    lexr = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_doc long, doc_id long, lex_rk int",
    )
    semr = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_doc long, doc_id long, sem_rk int",
    )
    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        rrf_fuse,
    )

    got = {
        r.doc_id: (r.rrf_u9, r.lex_rk, r.sem_rk)
        for r in rrf_fuse(lexr, semr, "lex_rk", "sem_rk", 60).collect()
    }
    expected = {
        10: (10**9 // 61, 1, 0),
        11: (10**9 // 62 + 10**9 // 61, 2, 1),
        12: (10**9 // 63, 3, 0),
        13: (10**9 // 62, 0, 2),
    }
    assert got == expected


def test_cms_grids_merge_additively_across_disjoint_batches(spark):
    """The property cms_new_batch banks on: per-batch counter grids
    summed cell-wise over disjoint slices equal the full-stream grid
    exactly (not approximately — counters are plain sums)."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.sketches import (
        cms_counters,
    )

    keys = [1] * 30 + [2] * 10 + list(range(3, 40))
    full = spark.createDataFrame([(k,) for k in keys], "user_id long")
    a = full.filter(F.col("user_id") % 2 == 0)
    b = full.filter(F.col("user_id") % 2 != 0)
    merged = (
        cms_counters(a, "user_id")
        .unionByName(cms_counters(b, "user_id"))
        .groupBy("row_i", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    want = {
        (r.row_i, r.bucket): r.c for r in cms_counters(full, "user_id").collect()
    }
    got = {(r.row_i, r.bucket): r.c for r in merged.collect()}
    assert got == want


def test_phrase_search_finds_crafted_positions(spark):
    """phrase_search semantics on a crafted corpus: 1-based first
    position, overlapping occurrences counted individually, no match
    for absent or split phrases, docs shorter than the phrase silent."""
    docs = spark.createDataFrame(
        [
            (0, "hash join is a hash join thing"),
            (1, "join hash order"),
            (2, "hash"),
            (3, "table scan table scan table scan"),
        ],
        "doc_id long, text string",
    )
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        _doc_grams,
    )
    from hubsit_health_analytics_etl_spark.workloads.w12_retrieval_sketches import (
        PHRASE_LEN,
    )

    phrases = spark.createDataFrame(
        [("p0", "hash join"), ("p1", "table scan")],
        "phrase_id string, phrase string",
    ).select("phrase_id", F.md5(F.lower("phrase")).alias("gh"))
    got = {
        (r.phrase_id, r.doc_id): (r.n_hits, r.first_pos)
        for r in _doc_grams(docs, PHRASE_LEN)
        .join(F.broadcast(phrases), "gh")
        .groupBy("phrase_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"), F.min("pos").alias("first_pos")
        )
        .collect()
    }
    assert got == {
        ("p0", 0): (2, 1),  # 'hash join' at positions 1 and 5
        ("p1", 3): (3, 1),  # 'table scan' at 1, 3, 5 (overlap-free here)
    }


def test_cms_estimate_returns_zero_for_never_seen_keys(spark):
    """Probing the sketch with a candidate the stream never produced
    must estimate 0 whenever ANY of its cells is empty (min over
    cells, absent cell = 0) — not drop the key or overestimate from
    the non-empty cells it collides into."""
    from hubsit_health_analytics_etl_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    stream = spark.createDataFrame([(k,) for k in [1, 1, 2]], "user_id long")
    counters = cms_counters(stream, "user_id")
    # probe a wide swath of unseen keys: with 2 distinct stream keys
    # into a 4x32 grid, most unseen keys hit >= 1 empty cell -> est 0;
    # every estimate must be present and none may exceed the stream's
    # total row count (the trivial CMS upper bound)
    probe = spark.createDataFrame(
        [(k,) for k in range(100, 160)], "user_id long"
    )
    est = {
        r.user_id: r.est_count
        for r in cms_estimate(probe, counters, "user_id").collect()
    }
    assert set(est) == set(range(100, 160))  # nothing dropped
    assert all(0 <= v <= 3 for v in est.values())
    assert any(v == 0 for v in est.values())  # empty-cell keys hit 0


def test_term_stats_merge_equals_full_recompute_on_crafted_split(spark):
    """The additivity bm25_new_batch banks on, pinned directly: term
    stats computed per disjoint doc slice and merged (tf/dl union,
    df sum, totals sum) must equal corpus_term_stats over the full
    corpus — including df for tokens present in BOTH slices."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        corpus_term_stats,
    )

    texts = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "apple durian durian cherry"),
        (3, "banana banana banana"),
    ]
    full = spark.createDataFrame(texts, "doc_id long, text string")
    a = full.filter(F.col("doc_id") % 2 == 0)
    b = full.filter(F.col("doc_id") % 2 != 0)

    tf_a, dl_a, df_a, _ = corpus_term_stats(a)
    tf_b, dl_b, df_b, _ = corpus_term_stats(b)
    tf_m = tf_a.unionByName(tf_b)
    dl_m = dl_a.unionByName(dl_b)
    df_m = (
        df_a.unionByName(df_b)
        .groupBy("token")
        .agg(F.sum("df_l").alias("df_l"))
    )
    tf_f, dl_f, df_f, stats_f = corpus_term_stats(full)

    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(tf_m) == as_set(tf_f)
    assert as_set(dl_m) == as_set(dl_f)
    assert as_set(df_m) == as_set(df_f)
    # 'banana' and 'cherry' span both slices — df must add to the
    # full-corpus doc counts (3 and 2), not max or overwrite
    df_map = {r.token: r.df_l for r in df_m.collect()}
    assert df_map["banana"] == 3 and df_map["cherry"] == 2
    # merged totals reproduce avgdl: (3+2+4+3) tokens / 4 docs
    row = stats_f.collect()[0]
    assert (row.n_docs, row.avgdl) == (4.0, 3.0)


def test_token_pmi_matches_python_reference_on_crafted_corpus(spark):
    """token_pmi_pairs' statistics vs an independent pure-Python PMI
    (Counter + math.log): bigram/unigram counts, the exact-ratio
    ln, the micro-unit floor and the min-count cutoff. Crafted corpus
    makes 'new york' a strong collocation (always adjacent) and
    'the the' a weak one (frequent tokens, independent)."""
    import math
    from collections import Counter

    from hubsit_health_analytics_etl_spark.workload import QUERIES
    from hubsit_health_analytics_etl_spark.workloads.w13_index_lifecycle import (
        PMI_MIN_COUNT,
    )

    texts = [
        (0, "new york is big and the city of new york is loud"),
        (1, "the cat and the dog and the bird like new york"),
        (2, "new york new york the the the and and is is"),
        (3, "big dog loud cat the and is new york the and"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    uni, bi = Counter(), Counter()
    for _, t in texts:
        ws = [w for w in t.lower().split(" ") if w]
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    n_tok, n_bg = float(sum(uni.values())), float(sum(bi.values()))
    expected = {}
    for (a, b), c in bi.items():
        if c >= PMI_MIN_COUNT:
            pmi = math.log((c * (n_tok * n_tok)) / (n_bg * (uni[a] * uni[b])))
            expected[(a, b)] = (c, math.floor(pmi * 1000000.0))

    # drive the same statistics through the registered query's path on
    # an in-memory corpus: rebuild via the module constants
    import pyspark.sql.functions as F

    toks = docs.select(F.expr("split(lower(text), ' ')").alias("toks"))
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN "
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS a, toks[i] AS b)) "
                    "ELSE array() END"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter((F.col("a") != "") & (F.col("b") != ""))
    )
    got_bi = Counter(
        {(r.a, r.b): r["count"] for r in bg.groupBy("a", "b").count().collect()}
    )
    assert got_bi == bi  # bigram extraction identical (overlaps, edges)

    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    tok = toks.select(F.explode("toks").alias("w")).filter(F.col("w") != "")
    cu = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    n = tok.agg(F.count(F.lit(1)).cast("double").alias("n_tok")).crossJoin(
        F.broadcast(bg.agg(F.count(F.lit(1)).cast("double").alias("n_bg")))
    )
    s = (
        cab.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(cu.withColumnRenamed("w", "a").withColumnRenamed("c_w", "c_a"), "a")
        .join(cu.withColumnRenamed("w", "b").withColumnRenamed("c_w", "c_b"), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a", "b", "c_ab",
            F.floor(
                F.expr(
                    "ln((cast(c_ab as double) * (n_tok * n_tok))"
                    " / (n_bg * (cast(c_a as double) * cast(c_b as double))))"
                )
                * F.lit(1000000.0)
            ).cast("bigint").alias("pmi_u6"),
        )
    )
    got = {(r.a, r.b): (r.c_ab, r.pmi_u6) for r in s.collect()}
    assert got == expected
    # the always-adjacent pair must out-score the independent one
    assert got[("new", "york")][1] > got[("the", "the")][1] if ("the", "the") in got else True


def test_bm25_contrib_sql_is_built_from_the_constants():
    """ADVICE r11: BM25_CONTRIB_SQL used to hard-code 1.2/2.2/0.75 so
    editing BM25_K1/BM25_B silently did nothing. It is now rendered
    from the constants; pin the exact historical text (the shared
    cross-engine expression — any drift silently invalidates every
    hash-certified BM25 oracle) and that the constants actually feed
    it."""
    from hubsit_health_analytics_etl_spark.operators import textanalysis as T

    assert T.BM25_CONTRIB_SQL == (
        "(ln(1.0 + (((n_docs - df) + 0.5) / (df + 0.5)))"
        " * ((tf * 2.2) / (tf + (1.2 * ((1.0 - 0.75)"
        " + (0.75 * (dl / avgdl)))))))"
    )
    assert repr(T.BM25_K1 + 1.0) in T.BM25_CONTRIB_SQL
    assert repr(T.BM25_B) in T.BM25_CONTRIB_SQL


def test_term_stats_forget_equals_recompute_on_kept_docs(spark):
    """The inverted additive merge (bm25_forget's core): subtracting a
    deleted doc slice from the standing term index must be
    value-identical to corpus_term_stats over the kept docs —
    including a token leaving the vocabulary when its df hits 0 and a
    TOKEN-LESS deleted doc (counts toward n_docs, contributes no
    postings). Independent of the DuckDB oracle (which could share a
    formula bug with the Spark side)."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        corpus_term_stats,
        term_stats_forget,
    )

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "c d a"), (4, ""), (5, "a a a")],
        "doc_id long, text string",
    )
    tf, dl, dfreq, _ = corpus_term_stats(docs)
    raw = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")).crossJoin(
        F.broadcast(
            dl.agg(
                F.coalesce(F.sum("dl_l"), F.lit(0)).cast("bigint").alias("n_toks")
            )
        )
    )
    deleted = spark.createDataFrame([(3,), (4,)], "doc_id long")
    tf_k, dl_k, dfreq_k, stats_k = term_stats_forget(tf, dl, dfreq, raw, deleted)

    kept = docs.filter(~F.col("doc_id").isin(3, 4))
    tf_r, dl_r, dfreq_r, stats_r = corpus_term_stats(kept)

    assert sorted(map(tuple, tf_k.collect())) == sorted(map(tuple, tf_r.collect()))
    assert sorted(map(tuple, dl_k.collect())) == sorted(map(tuple, dl_r.collect()))
    got_df = sorted(map(tuple, dfreq_k.collect()))
    assert got_df == sorted(map(tuple, dfreq_r.collect()))
    assert "d" not in {t for t, _ in got_df}  # df hit 0 -> left the vocab
    # stats: doubles derived from identical exact integers -> bit-equal
    assert stats_k.collect() == stats_r.collect()
    assert stats_k.collect()[0]["n_docs"] == 3.0


def test_scrub_from_postings_transfers_ownership_on_forget(spark):
    """Deleting a gram's OWNER from the postings index must transfer
    ownership to the next surviving holder (it keeps its text; later
    holders cut), and a gram left with one holder must stop cutting —
    the cut-vertex semantics a collapsed (gh, df, owner) row cannot
    express. Crafted 2-gram corpus, checked end-to-end."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        _doc_grams,
        scrub_from_postings,
    )

    docs = spark.createDataFrame(
        [(1, "x y q"), (2, "x y r p"), (3, "p q x y")],
        "doc_id long, text string",
    )
    postings = _doc_grams(docs, 2)

    # full corpus: doc 1 owns "x y" -> docs 2 and 3 get cut
    full = {
        r.doc_id: r
        for r in scrub_from_postings(docs, postings, 2).collect()
    }
    assert full[1].scrubbed_text == "x y q"
    assert full[2].n_tokens_removed == 2
    assert full[3].n_tokens_removed == 2

    # forget doc 1: ownership of "x y" transfers to doc 2 (kept
    # intact), doc 3 still cuts; no other gram is shared anymore
    deleted = spark.createDataFrame([(1,)], "doc_id long")
    surviving = postings.join(deleted, "doc_id", "left_anti")
    kept_docs = docs.filter(F.col("doc_id") != 1)
    out = {
        r.doc_id: r
        for r in scrub_from_postings(kept_docs, surviving, 2).collect()
    }
    assert sorted(out) == [2, 3]
    assert out[2].scrubbed_text == "x y r p"
    assert out[2].n_tokens_removed == 0
    assert out[3].scrubbed_text == "p q"
    assert out[3].n_tokens_removed == 2


def test_cms_forget_grid_equals_rebuild_on_kept_stream(spark):
    """Grid subtraction must be ROW-identical (cells and counts) to
    re-sketching the kept stream — including dropping cells that zero
    out. Exact integers, no tolerance."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.sketches import (
        cms_counters,
        cms_forget_grid,
    )

    rows = [(i, f"u{i % 7}") for i in range(200)]
    events = spark.createDataFrame(rows, "event_id long, user_id string")
    full = cms_counters(events, "user_id")
    is_del = F.col("event_id") % 4 == 0
    forgotten = cms_forget_grid(
        full, events.filter(is_del).select("user_id"), "user_id"
    )
    rebuilt = cms_counters(events.filter(~is_del), "user_id")
    assert sorted(map(tuple, forgotten.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    # and deleting EVERYTHING empties the grid (all cells zero out)
    gone = cms_forget_grid(full, events.select("user_id"), "user_id")
    assert gone.count() == 0


def test_semantic_dedup_new_batch_equals_full_restricted(spark):
    """Incremental == full, independent of the DuckDB oracle: probing
    the new batch against the persisted bucket index (∪ the batch
    itself) must reproduce semantic_dedup_keep's full-corpus decisions
    exactly, restricted to the batch vectors — NN id, cosine and keep
    bit all identical, singleton-bucket batch vectors kept."""
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    full = {
        r.vec_id: (r.nn_id, r.cosine, r.keep)
        for r in QUERIES["semantic_dedup_keep"](spark, SF_SMOKE).collect()
    }
    inc = {
        r.vec_id: (r.nn_id, r.cosine, r.keep)
        for r in QUERIES["semantic_dedup_new_batch"](spark, SF_SMOKE).collect()
    }
    assert inc, "batch slice is non-empty at sf0.001"
    assert set(inc) < set(full)  # strictly the batch subset
    for vid, got in inc.items():
        assert got == full[vid], f"vec {vid}: {got} != {full[vid]}"


def test_histogram_quantiles_match_rank_semantics_and_merge(spark):
    """Independent reference for the mergeable quantile index: the
    selected bin must be exactly the bin of the ⌈p·N/100⌉-th smallest
    (clamped) value, computed here in pure Python; histograms over
    disjoint slices must merge to the full histogram row-for-row; and
    out-of-range values must clamp into the edge bins, never drop."""
    import math

    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.sketches import (
        histogram_quantiles,
        value_histogram,
    )

    lo, hi, bins = 0.0, 100.0, 16
    vals = [-5.0, 0.0, 3.1, 7.7, 12.5, 12.5, 33.0, 41.9, 55.5, 63.2,
            77.0, 88.8, 99.9, 150.0, 2.2, 48.0, 50.0, 91.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "event_id long, value double")
    hist = value_histogram(df, "value", lo, hi, bins)

    def pybin(v):
        return min(max(math.floor((v - lo) * bins / (hi - lo)), 0), bins - 1)

    from collections import Counter

    expect_hist = Counter(pybin(v) for v in vals)
    assert {r.bin: r.cnt for r in hist.collect()} == dict(expect_hist)

    pcts = [1, 25, 50, 75, 99]
    out = {r.pct: r for r in
           histogram_quantiles(hist, pcts, lo, hi, bins).collect()}
    sorted_bins = sorted(pybin(v) for v in vals)
    n = len(vals)
    for p in pcts:
        k = math.ceil(p * n / 100)
        want_bin = sorted_bins[k - 1]
        got = out[p]
        assert got.bin == want_bin, (p, got.bin, want_bin)
        assert got.n_rows == n
        assert got.approx_hi_u6 == math.floor(
            (lo + (want_bin + 1) * ((hi - lo) / bins)) * 1e6
        )

    # disjoint-slice merge == full histogram, row-identical
    a = df.filter(F.col("event_id") % 2 == 0)
    b = df.filter(F.col("event_id") % 2 == 1)
    merged = (
        value_histogram(a, "value", lo, hi, bins)
        .unionByName(value_histogram(b, "value", lo, hi, bins))
        .groupBy("bin")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, hist.collect())
    )


def test_unigram_logprob_matches_python_reference(spark):
    """Independent pure-Python replica of the add-one unigram LM
    scorer (the oracle can't catch a formula bug both engines share):
    counts from the train slice, smoothed ln ratios, token-sorted
    sequential fold — including an UNSEEN token hitting the 1/(N+V)
    floor and a doc that is entirely out-of-vocabulary."""
    import math
    from collections import Counter

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        unigram_logprob_scores,
    )

    train = spark.createDataFrame(
        [(100, "a b a c"), (101, "b b c d")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(1, "a b"), (2, "a z b"), (3, "q q q")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.sum_logp)
        for r in unigram_logprob_scores(score, train).collect()
    }

    cw = Counter("a b a c".split() + "b b c d".split())
    n, v = sum(cw.values()), len(cw)

    def lp(tokens):
        tf = Counter(tokens)
        # token-sorted sequential fold, mirroring the Spark aggregate
        s = 0.0
        for t in sorted(tf):
            s += float(tf[t]) * math.log((cw.get(t, 0) + 1) / (n + v))
        return s

    for did, text in [(1, "a b"), (2, "a z b"), (3, "q q q")]:
        toks = text.split()
        assert got[did][0] == len(toks)
        assert abs(got[did][1] - lp(toks)) < 1e-12, (did, got[did], lp(toks))
    # unseen-token docs score strictly worse per token than in-vocab
    assert got[2][1] / 3 < got[1][1] / 2


def test_weekly_cohort_retention_matches_python_model(spark, monkeypatch):
    """Independent Python replica of the cohort matrix on a crafted
    stream, checked against BOTH engines: cohorts anchor at each
    user's first Monday-week, offsets count weeks, multiple events in
    one week collapse, and rates are exact integer ppm."""
    import datetime as dt
    from collections import defaultdict

    import duckdb

    from hubsit_health_analytics_etl_spark.workload import ORACLES

    rows = [
        # user 1: weeks 0, 1, 3 of cohort 2024-01-01 (a Monday)
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-03 09:00:00"),   # same week, collapses
        (3, 1, "2024-01-08 12:00:00"),
        (4, 1, "2024-01-24 23:00:00"),
        # user 2: cohort 2024-01-08, active weeks 0 and 1
        (5, 2, "2024-01-10 00:30:00"),
        (6, 2, "2024-01-15 07:00:00"),
        # user 3: single event, cohort 2024-01-01
        (7, 3, "2024-01-05 18:00:00"),
    ]
    df = spark.createDataFrame(
        [(e, u, dt.datetime.fromisoformat(ts)) for e, u, ts in rows],
        "event_id long, user_id long, ts timestamp_ntz",
    )

    # independent python model
    def week(t):
        return (t - dt.timedelta(days=t.weekday())).date()

    acts = defaultdict(set)
    for _, u, ts in rows:
        acts[u].add(week(dt.datetime.fromisoformat(ts)))
    coh = {u: min(ws) for u, ws in acts.items()}
    cells = defaultdict(set)
    for u, ws in acts.items():
        for wk in ws:
            cells[(coh[u], (wk - coh[u]).days // 7)].add(u)
    sizes = defaultdict(int)
    for c in coh.values():
        sizes[c] += 1
    want = sorted(
        (c.strftime("%Y-%m-%d"), off, len(us), sizes[c],
         len(us) * 1000000 // sizes[c])
        for (c, off), us in cells.items()
    )

    # Spark side on the crafted frame (loader stubbed on the defining
    # family module)
    import hubsit_health_analytics_etl_spark.workloads.w11_warehouse_ops as w11

    monkeypatch.setattr(w11, "load_table", lambda s, d, n, **kw: df)
    got_spark = sorted(
        (r.cohort_week, r.offset_weeks, r.n_users, r.cohort_size, r.rate_ppm)
        for r in w11.q_weekly_cohort_retention(spark, "unused").collect()
    )
    assert got_spark == want

    # oracle side on the same crafted frame
    con = duckdb.connect()
    con.register("events", df.toPandas())
    got_oracle = sorted(
        map(tuple, con.execute(ORACLES["weekly_cohort_retention"]).fetchall())
    )
    assert got_oracle == want


def test_user_value_outliers_match_float_zscore_model(spark, monkeypatch):
    """The integer z-test must agree with the textbook float z-score
    (population σ, |z| > 3) on a crafted stream with a clear outlier,
    a zero-variance user, and a single-event user — the algebra
    (v·n − Σx)² > 9·(n·Σx² − (Σx)²) is division-free but must select
    the same events."""
    import statistics

    per_user = {
        1: [10.0] * 20 + [500.0],          # one wild outlier
        2: [50.0] * 8,                      # zero variance
        3: [5.0, 5.1, 4.9, 5.0, 5.2, 4.8],  # tight, no outliers
        4: [7.7],                           # single event (sigma 0)
    }
    rows, eid = [], 0
    for u, vs in per_user.items():
        for v in vs:
            rows.append((eid, u, v)); eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    import hubsit_health_analytics_etl_spark.workloads.w11_warehouse_ops as w11

    monkeypatch.setattr(w11, "load_table", lambda s, d, n, **kw: df)
    got = {
        r.user_id: (r.n_events, r.mean_u2, r.n_outliers)
        for r in w11.q_user_value_outliers(spark, "unused").collect()
    }

    for u, vs in per_user.items():
        u2 = [round(v * 100) for v in vs]
        n = len(u2)
        mu = statistics.fmean(u2)
        sigma = statistics.pstdev(u2)
        n_out = sum(1 for v in u2 if sigma > 0 and abs(v - mu) > 3 * sigma)
        assert got[u] == (n, sum(u2) // n, n_out), (u, got[u])
    assert got[1][2] == 1      # the 500.0 event flags
    assert got[2][2] == 0      # zero variance flags nothing
    assert got[4][2] == 0      # single event flags nothing


def test_grouped_cms_equals_independent_per_group_sketches(spark):
    """The one-pass grouped grid must be cell-identical to sketching
    each group's slice separately with the ungrouped builder (shared
    row hashes make them the same construction), grouped estimates
    must never undercount their group's exact counts, and a key
    probed under a group it never appeared in must estimate 0."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.sketches import (
        cms_counters,
        cms_counters_grouped,
        cms_estimate_grouped,
    )

    rows = [(i, f"t{i % 3}", f"u{i % 11}") for i in range(300)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id string"
    )
    grouped = cms_counters_grouped(ev, "user_id", ["event_type"])
    for t in ["t0", "t1", "t2"]:
        want = {
            (r.row_i, r.bucket): r.c
            for r in cms_counters(
                ev.filter(F.col("event_type") == t).select("user_id"),
                "user_id",
            ).collect()
        }
        got = {
            (r.row_i, r.bucket): r.c
            for r in grouped.filter(F.col("event_type") == t).collect()
        }
        assert got == want, t

    est = {
        (r.event_type, r.user_id): r.est_count
        for r in cms_estimate_grouped(
            ev.select("event_type", "user_id").distinct(),
            grouped,
            "user_id",
            ["event_type"],
        ).collect()
    }
    exact = {
        (r.event_type, r.user_id): r["cnt"]
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)

    # a key absent from its group estimates 0 (left join + coalesce)
    ghost = spark.createDataFrame(
        [("t0", "never-seen-user")], "event_type string, user_id string"
    )
    z = cms_estimate_grouped(ghost, grouped, "user_id", ["event_type"])
    assert [r.est_count for r in z.collect()] == [0]

    # ADVICE r12: the broadcast is guarded — over the cap the probe
    # falls back to a shuffled equi-join with IDENTICAL results (a
    # high-cardinality group column must never force an oversized
    # broadcast)
    shuffled = cms_estimate_grouped(
        ev.select("event_type", "user_id").distinct(),
        grouped,
        "user_id",
        ["event_type"],
        max_broadcast_rows=0,
    )
    assert "broadcast" not in shuffled._jdf.queryExecution().executedPlan().toString().lower()
    assert {
        (r.event_type, r.user_id): r.est_count for r in shuffled.collect()
    } == est


def test_maintain_additive_rollup_rejects_non_integral_value(spark):
    """ADVICE r12: a float/decimal value column used to be silently
    cast to bigint (truncating — delta maintenance would diverge from
    a recompute); it must fail loudly instead."""
    import pyspark.sql.functions as F
    import pytest

    from hubsit_health_analytics_etl_spark.operators.cdc import (
        maintain_additive_rollup,
    )

    old = spark.createDataFrame([(1, "g1", 1.5)], "k long, g string, v double")
    new = spark.createDataFrame([(1, "g1", 2.5)], "k long, g string, v double")
    base = old.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("s"),
    )
    with pytest.raises(ValueError, match="integral"):
        maintain_additive_rollup(base, old, new, ["k"], "g", "v")


def test_maintain_additive_rollup_full_churn_semantics(spark):
    """IVM on a crafted changelog covering every arm: in-place value
    update, row MOVING groups (old group decrements, new increments),
    delete that zeroes a group out of the view, pure insert creating a
    NEW group, and an untouched group passing through — maintained
    view must equal a from-scratch rollup of the new snapshot."""
    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.cdc import (
        maintain_additive_rollup,
    )

    old = spark.createDataFrame(
        [
            (1, "g1", 100), (2, "g1", 200),      # g1: update k=1 in place
            (3, "g2", 300),                      # g2: row moves to g3
            (4, "g4", 400),                      # g4: deleted -> group vanishes
            (5, "g5", 500), (6, "g5", 600),      # g5: untouched
        ],
        "k long, g string, v long",
    )
    new = spark.createDataFrame(
        [
            (1, "g1", 150), (2, "g1", 200),
            (3, "g3", 300),                      # moved g2 -> g3
            (5, "g5", 500), (6, "g5", 600),
            (7, "g6", 700),                      # insert, brand-new group
        ],
        "k long, g string, v long",
    )
    base = old.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    got = {
        r.g: (r.n, r.s)
        for r in maintain_additive_rollup(
            base, old, new, ["k"], "g", "v"
        ).collect()
    }
    want = {
        r.g: (r.n, r.s)
        for r in new.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s"),
        )
        .collect()
    }
    assert got == want
    assert "g4" not in got        # zeroed group dropped from the view
    assert got["g6"] == (1, 700)  # new group appears
    assert got["g5"] == (2, 1100) # untouched group intact


def test_label_propagation_crafted_graph_semantics(spark):
    """Pure crafted-graph pins for the LP operator: majority vote,
    tie -> smaller label, clamped seeds, SYNCHRONOUS rounds (a round-1
    adopter influences only round 2), chain adoption at round 2, and
    unreached nodes absent."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        label_propagation,
    )

    # seeds: 1->lab1, 2->lab0, 3->lab0
    seeds = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 0)], "node long, lab long"
    )
    edges = spark.createDataFrame(
        [
            (1, 10),            # 10: single labeled neighbor -> lab 1, rnd 1
            (2, 11), (3, 11), (1, 11),  # 11: majority 0 (2 vs 1) -> lab 0
            (1, 12), (2, 12),   # 12: tie 1-1 -> smaller label 0
            (10, 20),           # 20: adopts 10's label at ROUND 2 only
            (20, 30),           # 30: unreached within 2 rounds
            (2, 1),             # edge between seeds: both stay clamped
        ],
        "doc_a long, doc_b long",
    )
    out = {r.node: (r.lab, r.rnd)
           for r in label_propagation(seeds, edges, 2).collect()}
    assert out[1] == (1, 0) and out[2] == (0, 0) and out[3] == (0, 0)
    assert out[10] == (1, 1)
    assert out[11] == (0, 1)
    assert out[12] == (0, 1)
    assert out[20] == (1, 2)   # synchronous: not at round 1
    assert 30 not in out       # beyond the horizon


def test_moments_lifecycle_matches_pure_python(spark):
    """Independent (non-oracle) reference for the moments index family
    on crafted data: triples build / additive merge / forget
    subtraction / division-free z-test all reproduced in pure Python
    floats-free integer arithmetic — the both-engines-share-a-bug
    guard the oracle hash cannot provide. Includes a key whose every
    row is forgotten (must drop), a constant-value key (σ=0 flags
    nothing), and an index-less probe key (scores 0)."""
    from hubsit_health_analytics_etl_spark.operators.sketches import (
        moments_forget,
        moments_merge,
        moments_triples,
        moments_ztest_flags,
    )

    # u7: 10 normal rows + 1 huge outlier. n=11 matters: an outlier
    # inside its own index stats can reach at most |z| = (n-1)/sqrt(n),
    # which first exceeds k=3 at n=11 — the flag below is real, not a
    # fixture accident.
    rows = [
        (i, 7, 10.00 + (i % 3) * 0.05) for i in range(1, 11)
    ] + [
        (11, 7, 500.00),
        # u8 constant value -> sigma 0, never flags
        (12, 8, 25.25), (13, 8, 25.25), (14, 8, 25.25),
        # u9 fully forgotten below
        (15, 9, 1.00), (16, 9, 2.00),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    half_a = df.filter(F.col("event_id") <= 8)
    half_b = df.filter(F.col("event_id") > 8)

    merged = moments_merge(
        moments_triples(half_a, "user_id", "value"),
        moments_triples(half_b, "user_id", "value"),
    )

    def py_triples(rs):
        out = {}
        for _, u, val in rs:
            v = round(val * 100)
            n, sx, sxx = out.get(u, (0, 0, 0))
            out[u] = (n + 1, sx + v, sxx + v * v)
        return out

    assert {
        r.key: (r.n, r.sx, r.sxx) for r in merged.collect()
    } == py_triples(rows)

    # forget u9 entirely
    deleted = df.filter(F.col("user_id") == 9)
    kept_rows = [r for r in rows if r[1] != 9]
    maintained = moments_forget(merged, deleted, "user_id", "value")
    assert {
        r.key: (r.n, r.sx, r.sxx) for r in maintained.collect()
    } == py_triples(kept_rows)  # u9 dropped at n=0

    # z-test flags vs the pure-integer inequality, incl. unseen key 99
    probes = spark.createDataFrame(
        [(7, 500.00), (7, 10.00), (8, 25.25), (99, 1.0)],
        "user_id long, value double",
    )
    k = 3
    idx = py_triples(kept_rows)

    def py_flag(u, val):
        if u not in idx:
            return 0
        n, sx, sxx = idx[u]
        v = round(val * 100)
        return 1 if (v * n - sx) ** 2 > k * k * (n * sxx - sx * sx) else 0

    got = {
        (r.key, r.v): r.is_out
        for r in moments_ztest_flags(
            probes, maintained, "user_id", "value", k
        ).collect()
    }
    want = {
        (u, round(val * 100)): py_flag(u, val)
        for u, val in [(7, 500.00), (7, 10.00), (8, 25.25), (99, 1.0)]
    }
    assert got == want
    assert want[(7, 50000)] == 1     # the huge outlier flags
    assert want[(8, 2525)] == 0      # sigma=0 never flags
    assert want[(99, 100)] == 0      # unseen key scores 0


def test_grouped_histogram_quantiles_match_per_group_reference(spark):
    """The grouped quantile index must equal (a) per-group pure-Python
    rank selection and (b) running the ungrouped operators on each
    group's slice separately — same construction, partitioned windows
    only."""
    import math
    from collections import Counter

    import pyspark.sql.functions as F

    from hubsit_health_analytics_etl_spark.operators.sketches import (
        histogram_quantiles,
        histogram_quantiles_grouped,
        value_histogram,
        value_histogram_grouped,
    )

    lo, hi, bins = 0.0, 100.0, 16
    rows = [(i, f"g{i % 3}", float((i * 37) % 120) - 5.0) for i in range(60)]
    df = spark.createDataFrame(rows, "event_id long, grp string, value double")

    hist = value_histogram_grouped(df, "value", ["grp"], lo, hi, bins)

    def pybin(v):
        return min(max(math.floor((v - lo) * bins / (hi - lo)), 0), bins - 1)

    for g in ("g0", "g1", "g2"):
        vals = [v for _, grp, v in rows if grp == g]
        want = Counter(pybin(v) for v in vals)
        got = {
            r.bin: r.cnt for r in hist.filter(F.col("grp") == g).collect()
        }
        assert got == dict(want), g

    pcts = [1, 25, 50, 75, 99]
    out = {
        (r.grp, r.pct): r
        for r in histogram_quantiles_grouped(
            hist, pcts, ["grp"], lo, hi, bins
        ).collect()
    }
    for g in ("g0", "g1", "g2"):
        vals = [v for _, grp, v in rows if grp == g]
        sorted_bins = sorted(pybin(v) for v in vals)
        n = len(vals)
        # (b) the ungrouped operator on the slice agrees column-wise
        slice_out = {
            r.pct: r
            for r in histogram_quantiles(
                value_histogram(
                    df.filter(F.col("grp") == g), "value", lo, hi, bins
                ),
                pcts, lo, hi, bins,
            ).collect()
        }
        for p in pcts:
            k = math.ceil(p * n / 100)
            want_bin = sorted_bins[k - 1]
            got = out[(g, p)]
            assert got.bin == want_bin, (g, p, got.bin, want_bin)
            assert got.n_rows == n
            sl = slice_out[p]
            assert (got.bin, got.cum_rows, got.n_rows, got.approx_hi_u6) == (
                sl.bin, sl.cum_rows, sl.n_rows, sl.approx_hi_u6
            )


def test_theta_sketch_matches_pure_python_kmv(spark):
    """Independent reference: a pure-Python KMV over the same md5
    hashes must reproduce the Spark sketch arrays, estimates, and the
    intersection / A-not-B estimators exactly (the oracle-can't-catch-
    a-shared-bug rule: this reference shares no code with either
    engine's SQL)."""
    import hashlib

    from hubsit_health_analytics_etl_spark.operators.theta import (
        THETA_K,
        THETA_M,
        theta_estimate,
        theta_set_ops,
        theta_sketch,
    )

    def h60(v):
        return int(hashlib.md5(f"theta{v}".encode()).hexdigest()[:15], 16)

    a_vals = list(range(0, 400))          # group A
    b_vals = list(range(300, 650))        # group B: overlap 300..399
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v bigint")
    sk = theta_sketch(df, ["g"], "v", k=THETA_K)
    got = {r["g"]: list(r["hs"]) for r in sk.collect()}

    def kmv(vals):
        return sorted({h60(v) for v in vals})[:THETA_K]

    assert got["a"] == kmv(a_vals)
    assert got["b"] == kmv(b_vals)

    def theta_of(hs):
        return hs[THETA_K - 1] if len(hs) >= THETA_K else THETA_M

    def est_of(hs):
        if len(hs) < THETA_K:
            return len(hs)
        import math
        return math.floor((THETA_K - 1) * float(THETA_M) / float(theta_of(hs)))

    est = {r["g"]: r["est_distinct"] for r in theta_estimate(sk).collect()}
    assert est["a"] == est_of(kmv(a_vals))
    assert est["b"] == est_of(kmv(b_vals))
    # estimator sanity: within 4 std errs (~1/sqrt(k-2)) of truth
    assert abs(est["a"] - 400) < 4 * 400 / (THETA_K - 2) ** 0.5

    ops = theta_set_ops(
        sk.filter(F.col("g") == "a"), sk.filter(F.col("g") == "b"), F.lit(True)
    ).collect()[0]
    ha, hb = kmv(a_vals), kmv(b_vals)
    th = min(theta_of(ha), theta_of(hb))
    import math
    n_and = len([x for x in ha if x < th and x in set(hb)])
    n_anb = len([x for x in ha if x < th and x not in set(hb)])
    assert ops["est_intersect"] == math.floor(n_and * float(THETA_M) / float(th))
    assert ops["est_a_not_b"] == math.floor(n_anb * float(THETA_M) / float(th))


def test_theta_merge_law_and_prefilter_invariance(spark):
    """bottom-k(A ∪ B) == merge(bottom-k(A), bottom-k(B)) EXACTLY for
    any split of the data (the additive-index law the new_batch query
    relies on), and the HLL-probe build prefilter never changes the
    sketch content."""
    from hubsit_health_analytics_etl_spark.operators.theta import (
        theta_sketch,
        theta_union,
    )

    rows = [("g", v) for v in range(2000)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    full = theta_sketch(df, ["g"], "v", prefilter=False)
    lo = theta_sketch(df.filter(F.col("v") < 700), ["g"], "v", prefilter=False)
    hi = theta_sketch(df.filter(F.col("v") >= 700), ["g"], "v", prefilter=False)
    merged = theta_union(lo, hi, ["g"])
    assert merged.collect()[0]["hs"] == full.collect()[0]["hs"]
    # prefilter invariance at a cardinality (2000) that engages the
    # threshold (margin*k = 256 << 2000)
    filt = theta_sketch(df, ["g"], "v", prefilter="auto")
    assert filt.collect()[0]["hs"] == full.collect()[0]["hs"]


def test_page_rank_matches_pure_python_integer_model(spark):
    """Independent reference: a dict-based integer PageRank on a
    crafted graph must agree node-for-node with the Spark operator
    (same micro-unit truncating arithmetic), including a hub node
    ranking above spokes and rank conservation bounds."""
    from hubsit_health_analytics_etl_spark.operators.clusters import page_rank

    # star (h center) + a 2-cycle, symmetrized
    und = [("h", "s1"), ("h", "s2"), ("h", "s3"), ("x", "y")]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank_u6"] for r in page_rank(df, n_iter=3).collect()}

    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {n: 1_000_000 for n in deg}
    for _ in range(3):
        acc = {}
        for s, d in edges:
            acc[d] = acc.get(d, 0) + r[s] // deg[s]
        r = {n: 150_000 + (85 * a) // 100 for n, a in acc.items()}
    assert got == r
    assert got["h"] > got["s1"] == got["s2"] == got["s3"]
    assert got["x"] == got["y"]
    # damped mass stays within the all-nodes envelope
    assert all(150_000 <= v <= len(deg) * 1_000_000 for v in got.values())


def test_triangle_count_matches_pure_python_reference(spark):
    """Independent reference: brute-force triangle enumeration on a
    crafted graph (K4 + pendant + disjoint triangle + isolated-ish
    chain) must match the oriented-wedge operator node-for-node,
    including zero counts for triangle-free nodes."""
    from itertools import combinations

    from hubsit_health_analytics_etl_spark.operators.clusters import triangle_count

    und = (
        list(combinations([1, 2, 3, 4], 2))  # K4: 4 triangles
        + [(4, 5)]                            # pendant
        + [(6, 7), (6, 8), (7, 8)]            # disjoint triangle
        + [(9, 10)]                           # triangle-free edge
    )
    df = spark.createDataFrame(und, "u bigint, v bigint")
    got = {
        r["node"]: (r["tri_count"], r["degree"])
        for r in triangle_count(df).collect()
    }

    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                tri[n] += 1
    assert got == {n: (tri[n], len(adj[n])) for n in adj}
    assert got[1] == (3, 3) and got[5] == (0, 1) and got[6] == (1, 2)


def test_theta_forget_rebuilds_only_affected_groups(spark):
    """The theta forget contract on a crafted narrow deletion: a
    deleted value present only in group A leaves group B's sketch row
    BYTE-identical (anti-join passthrough) and rebuilds A from kept
    rows exactly."""
    from hubsit_health_analytics_etl_spark.operators.theta import theta_sketch

    rows = [("A", v) for v in range(50)] + [("B", v) for v in range(100, 160)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    idx = theta_sketch(df, ["g"], "v", prefilter=False)

    deleted = df.filter((F.col("g") == "A") & (F.col("v") < 10))
    kept = df.subtract(deleted)
    affected = deleted.select("g").distinct()
    untouched = idx.join(affected, "g", "left_anti")
    rebuilt = theta_sketch(kept.join(affected, "g"), ["g"], "v", prefilter=False)
    merged = {r["g"]: list(r["hs"]) for r in untouched.unionByName(rebuilt).collect()}

    want = {r["g"]: list(r["hs"]) for r in theta_sketch(kept, ["g"], "v", prefilter=False).collect()}
    before = {r["g"]: list(r["hs"]) for r in idx.collect()}
    assert merged == want
    assert merged["B"] == before["B"]          # untouched group passes through
    assert merged["A"] != before["A"]          # affected group actually rebuilt


def test_minhash_recall_bands_catches_all_high_similarity(spark):
    """The LSH evaluation report's quality contract on the fixture:
    the 0.9+ band (near-identical pairs, above the banding threshold)
    must have recall 1.0 — a MinHash config that misses those is
    misconfigured, whatever the oracle says about the arithmetic."""
    from hubsit_health_analytics_etl_spark.workload import QUERIES

    rows = {
        r["band"]: (r["n_truth"], r["recall_u6"])
        for r in QUERIES["minhash_recall_bands"](spark, SF_SMOKE).collect()
    }
    assert rows["0.9+"][0] > 0
    assert rows["0.9+"][1] == 1_000_000
    assert rows["all"][0] >= rows["0.9+"][0]


def test_personalized_page_rank_matches_pure_python_model(spark):
    """Independent reference: dict-based integer PPR on a crafted
    graph, two seeds at once — restart mass returns to each seed, the
    frontier stays within n_iter hops, and a node unreachable from a
    seed carries no (seed, node) state at all."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        personalized_page_rank,
    )

    und = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]  # path + far pair
    edges = und + [(v, u) for u, v in und]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("x",)], "seed string")
    got = {
        (r["seed"], r["node"]): r["rank_u6"]
        for r in personalized_page_rank(df, seeds, n_iter=3).collect()
    }

    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    want = {}
    for seed in ("a", "x"):
        r = {seed: 1_000_000}
        for _ in range(3):
            acc = {}
            for s, d in edges:
                if s in r:
                    acc[d] = acc.get(d, 0) + r[s] // deg[s]
            r = {n: (85 * v) // 100 for n, v in acc.items()}
            r[seed] = r.get(seed, 0) + 150_000
        for n, v in r.items():
            want[(seed, n)] = v
    assert got == want
    # frontier discipline: 'a' is 3 hops from 'd' at most — but never
    # reaches the disconnected (x, y) pair, and vice versa
    assert ("a", "x") not in got and ("x", "a") not in got
    # the restart term keeps every seed present in its own vector
    # (no ordering claim: a truncated walk on a 2-colorable path
    # oscillates by parity, so hop-distance ordering is NOT a PPR
    # invariant at small n_iter — the exact model match above is the
    # contract)
    assert ("a", "a") in got and ("x", "x") in got


def test_waterfill_matches_pure_python_and_sums_to_budget(spark):
    """Independent reference: a pure-Python waterfill over the fixture
    token counts must reproduce every allocation, allocations must sum
    EXACTLY to the budget when total > budget (the remainder spread
    guarantees it), and no source is ever allocated more than it has."""
    from hubsit_health_analytics_etl_spark.workload import QUERIES
    from hubsit_health_analytics_etl_spark.workloads.w14_graph import (
        WATERFILL_BUDGET_PCT,
    )

    rows = {
        r["source"]: (r["tokens"], r["alloc"], r["capped"])
        for r in QUERIES["source_token_waterfill"](spark, SF_SMOKE).collect()
    }
    tokens = {s: v[0] for s, v in rows.items()}
    total = sum(tokens.values())
    budget = (total * WATERFILL_BUDGET_PCT) // 100

    def waterfill(t: dict, b: int) -> dict:
        order = sorted(t, key=lambda s: (t[s], s))
        n = len(order)
        prefix = 0
        r0 = None
        for i, s in enumerate(order):
            if prefix + t[s] * (n - i) >= b:
                r0 = i
                break
            prefix += t[s]
        if r0 is None:
            return dict(t)
        c, rem = divmod(b - prefix, n - r0)
        out = {}
        for i, s in enumerate(order):
            if i < r0:
                out[s] = t[s]
            else:
                out[s] = min(t[s], c + (1 if i - r0 < rem else 0))
        return out

    want = waterfill(tokens, budget)
    assert {s: v[1] for s, v in rows.items()} == want
    assert all(v[1] <= v[0] for v in rows.values())
    if total > budget:
        assert sum(want.values()) == budget
    # crafted edge: budget >= total → everything passes through uncapped
    assert waterfill({"a": 5, "b": 7}, 100) == {"a": 5, "b": 7}


def test_hits_matches_pure_python_reference(spark):
    """Independent reference: a dict-based integer HITS on a crafted
    bipartite graph must agree node-for-node with the Spark operator,
    and the hub/authority asymmetry HITS exists for must show: the
    supplier covering the popular customers out-hubs one covering a
    fringe customer, even at equal out-degree."""
    from hubsit_health_analytics_etl_spark.operators.clusters import hits_scores

    # s1 -> {c1, c2}; s2 -> {c1, c2}; s3 -> {c2, c3}: c3 is fringe
    edges = [
        ("s1", "c1"), ("s1", "c2"),
        ("s2", "c1"), ("s2", "c2"),
        ("s3", "c2"), ("s3", "c3"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    auth, hubs = hits_scores(df, n_iter=2)
    got_a = {r["node"]: r["score"] for r in auth.collect()}
    got_h = {r["node"]: r["score"] for r in hubs.collect()}

    h = {s: 1 for s, _ in edges}
    a = {}
    for _ in range(2):
        a = {}
        for s, d in edges:
            a[d] = a.get(d, 0) + h[s]
        h = {}
        for s, d in edges:
            h[s] = h.get(s, 0) + a[d]
    assert got_a == a and got_h == h
    # c2 (in-deg 3) out-ranks c1 (in-deg 2) out-ranks fringe c3
    assert got_a["c2"] > got_a["c1"] > got_a["c3"]
    # s1/s2 point only at popular customers -> better hubs than s3
    assert got_h["s1"] == got_h["s2"] > got_h["s3"]


def test_bfs_hops_matches_pure_python_reference(spark):
    """Independent reference: dict-based multi-source BFS on a crafted
    graph (two seeds, a diamond giving one node two paths, a chain
    past max_hops, a disconnected island) must match node-for-node —
    min distance wins, unreachable/too-far nodes are absent, a node
    that IS a seed reports 0 even with in-edges."""
    from hubsit_health_analytics_etl_spark.operators.clusters import bfs_hops

    und = [
        ("a", "b"), ("b", "c"), ("a", "c"),   # diamond-ish: c at 1 via a
        ("c", "d"), ("d", "e"), ("e", "f"),   # chain: f at 4 > max_hops
        ("g", "h"),                           # island
        ("x", "a"),                           # seed a has an in-edge
    ]
    edges = und + [(v, u) for u, v in und]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("x",)], "node string")
    got = {
        r["node"]: r["dist"]
        for r in bfs_hops(df, seeds, max_hops=3).collect()
    }

    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
    dist = {"a": 0, "x": 0}
    frontier = {"a", "x"}
    for i in range(1, 4):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in dist
        }
        for v in frontier:
            dist[v] = i
    assert got == dist
    assert got["a"] == 0 and got["c"] == 1 and got["e"] == 3
    assert "f" not in got and "g" not in got and "h" not in got


def test_bellman_ford_costs_matches_pure_python_reference(spark):
    """Independent reference: full-relaxation Bellman-Ford (dict
    iterate, at most max_rounds edges per path) on a crafted weighted
    digraph must match node-for-node. The graph pins: a node improved
    in three consecutive rounds (a: 10 → 6 → 3), a 3-edge path cheaper
    than the 1-edge path (s→c→d→a = 3 < s→a = 10), a node whose
    cheapest path needs more edges than allowed (e = 7, not 4), a node
    beyond max_rounds (x: 4 edges from any seed, absent), an
    unreachable island (g, h) and seeds with in-edges that keep cost 0
    (s, t; s also appears twice in the seed frame)."""
    from hubsit_health_analytics_etl_spark.operators.clusters import (
        bellman_ford_costs,
    )

    edges = [
        ("s", "a", 10), ("s", "b", 1), ("b", "a", 5),
        ("s", "c", 1), ("c", "d", 1), ("d", "a", 1),
        ("a", "e", 1), ("e", "f", 1), ("f", "x", 1),
        ("g", "h", 1), ("h", "g", 1),
        ("a", "s", 1), ("b", "t", 0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w bigint")
    seeds = spark.createDataFrame([("s",), ("t",), ("s",)], "node string")
    got = {
        r["node"]: r["cost"]
        for r in bellman_ford_costs(df, seeds, max_rounds=3).collect()
    }

    cost = {"s": 0, "t": 0}
    for _ in range(3):
        nxt = dict(cost)
        for u, v, w in edges:
            if u in cost and cost[u] + w < nxt.get(v, float("inf")):
                nxt[v] = cost[u] + w
        cost = nxt
    assert got == cost
    assert got["a"] == 3 and got["e"] == 7 and got["f"] == 12
    assert got["s"] == 0 and got["t"] == 0
    assert "x" not in got and "g" not in got and "h" not in got


def test_dsir_logweights_matches_pure_python_reference(spark):
    """Independent reference: Counter-based DSIR (hashed-bigram
    add-one-smoothed log ratio) on a crafted corpus must match
    doc-for-doc at float64, and the ORDERING property DSIR exists for
    must hold: a doc written in the target's vocabulary outweighs a
    doc written outside it."""
    import hashlib
    import math
    from collections import Counter

    import pytest

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        DSIR_BUCKETS,
        dsir_logweights,
    )

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps"),
        (3, "zorp blag quux flib zorp blag"),
        (4, "single"),          # 1 token -> no bigrams
        (5, "the lazy dog naps quietly near the quick fox"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id bigint, text string")
    target = docs.filter(F.col("doc_id").isin(1, 2))  # fox-domain target
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logw"])
        for r in dsir_logweights(docs, target).collect()
    }

    def buckets(text):
        toks = [t for t in text.lower().split(" ") if t]
        return [
            int(hashlib.md5(f"dsir{a} {b}".encode()).hexdigest()[:8], 16)
            % DSIR_BUCKETS
            for a, b in zip(toks, toks[1:])
        ]

    ct = Counter(b for i, t in corpus if i in (1, 2) for b in buckets(t))
    cr = Counter(b for _, t in corpus for b in buckets(t))
    n_t, n_r = sum(ct.values()), sum(cr.values())
    for doc_id, text in corpus:
        tf = Counter(buckets(text))
        if not tf:
            assert doc_id not in got
            continue
        want = sum(
            # fold in bucket order, mirroring the engine's sorted fold
            tf[b]
            * math.log(
                ((ct.get(b, 0) + 1) * (n_r + DSIR_BUCKETS))
                / ((cr[b] + 1) * (n_t + DSIR_BUCKETS))
            )
            for b in sorted(tf)
        )
        n, logw = got[doc_id]
        assert n == sum(tf.values())
        assert logw == pytest.approx(want, abs=1e-9)
    # fox-domain docs score above the out-of-domain gibberish doc
    # (per-bigram normalized — raw log-weights are length-sensitive)
    norm = {i: w / n for i, (n, w) in got.items()}
    assert min(norm[1], norm[2], norm[5]) > norm[3]
    assert got[3][1] < 0


def test_ndcg_matches_pure_python_and_bounds(spark):
    """Independent reference: recompute nDCG@k in pure Python from the
    collected brute/approx rankings (math.log2 discounts, graded
    gains) and match every (method, query) row; pin the bounds — an
    approximate ranking never beats the ideal (ndcg ≤ 10⁶) and equals
    10⁶ exactly when it reproduces the exact top-k order."""
    import math

    from hubsit_health_analytics_etl_spark.workloads.w03_similarity_multimodal import (
        q_ann_bruteforce_topk,
        q_ann_lsh_topk,
    )
    from hubsit_health_analytics_etl_spark.workloads.w05_clusters_ann import (
        q_ann_ivf_nprobe_topk,
        q_ann_ivf_topk,
    )
    from hubsit_health_analytics_etl_spark.workloads.w15_linkage_dsir import (
        q_retrieval_ndcg_at_k,
    )

    sf = SF_SMOKE
    got = {
        (r["method"], r["query_id"]): (r["dcg_u6"], r["idcg_u6"], r["ndcg_u6"])
        for r in q_retrieval_ndcg_at_k(spark, sf).collect()
    }
    brute = [
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in q_ann_bruteforce_topk(spark, sf).collect()
    ]
    rel_of_rank = {1: 3, 2: 2, 3: 2, 4: 1, 5: 1}
    w = {r: int(1_000_000 / math.log2(r + 1)) for r in range(1, 6)}
    rel = {(q, n): rel_of_rank[rk] for q, n, rk in brute}
    idcg = {}
    for q, _, rk in brute:
        idcg[q] = idcg.get(q, 0) + rel_of_rank[rk] * w[rk]
    for method, fn in (
        ("lsh", q_ann_lsh_topk),
        ("ivf", q_ann_ivf_topk),
        ("ivf2", q_ann_ivf_nprobe_topk),
    ):
        dcg = {}
        for r in fn(spark, sf).collect():
            q, n, rk = r["query_id"], r["neighbor_id"], r["rank"]
            dcg[q] = dcg.get(q, 0) + rel.get((q, n), 0) * w[rk]
        for q, d in dcg.items():
            want = (d, idcg[q], d * 1_000_000 // idcg[q])
            assert got[(method, q)] == want
            assert want[2] <= 1_000_000
    assert any(v[2] == 1_000_000 for v in got.values())
    assert any(v[2] < 1_000_000 for v in got.values())


def test_prefix_filter_jaccard_is_lossless_and_prunes(spark):
    """On a crafted corpus with a boilerplate shingle in EVERY doc
    (the O(m²) hot key), the prefix-filtered join returns exactly the
    exhaustive answer — including a pair at the τ boundary — while
    generating strictly fewer candidate pairs than the full inverted
    index meets."""
    from hubsit_health_analytics_etl_spark.operators.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
        shingles_from_text,
    )

    boiler = "terms of service apply here"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"alpha beta gamma delta epsilon eta {boiler}"),   # near-dup of 1
        (3, f"one two three four five six {boiler}"),
        (4, f"one two three SEVEN eight nine {boiler}"),       # partial of 3
        (5, f"totally different content entirely {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, 0.3).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_prefix_filter_pairs(docs, 3, 10).collect()
    }
    assert got == exact and (1, 2) in got
    # the boilerplate shingles pair every doc with every other in the
    # full index (C(5,2) = 10 meets per hot shingle); prefixes keep
    # only the rarest p shingles per doc, so the hot shingles vanish
    # from candidate generation: every candidate must share a RARE
    # prefix shingle. Verify by counting pairs per generator.
    sh = docs.select("doc_id", shingles_from_text("text").alias("sh"))
    inv = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    a = inv.select(F.col("doc_id").alias("da"), F.col("s"))
    b = inv.select(F.col("doc_id").alias("db"), F.col("s"))
    full_meets = a.join(b, "s").filter(F.col("da") < F.col("db")).count()
    # reconstruct the operator's candidate set size via its own prefix rule
    from pyspark.sql import Window

    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s"))
    pref = (
        inv.join(dfreq, "s")
        .withColumn("pos", pos)
        .filter(F.col("pos") <= F.col("n") - F.expr("(3 * n + 9) div 10") + 1)
    )
    pa = pref.select(F.col("doc_id").alias("da"), "s")
    pb = pref.select(F.col("doc_id").alias("db"), "s")
    cand = pa.join(pb, "s").filter(F.col("da") < F.col("db")).select("da", "db").distinct().count()
    assert cand < full_meets
    assert cand >= len(exact)


def test_blocked_fuzzy_join_matches_pure_python_dp(spark):
    """Independent reference: classic DP Levenshtein over every
    blocked pair of a crafted name set must match the operator
    pair-for-pair — including a transposition-ish typo, a pair
    blocked but too distant, and a close pair sharing NO word
    (blocking recall loss, asserted ABSENT by design)."""
    from hubsit_health_analytics_etl_spark.operators.joins import (
        blocked_fuzzy_self_join,
    )

    names = [
        "acme health clinic",
        "acme helth clinic",      # typo: dist 1
        "acme dental clinic",     # dist 5 from the first
        "downtown clinic",
        "downtwon clinics",       # typo'd + plural: dist 3
        "riverside surgery",      # shares no word with anything
        "riverside surgary",      # typo: dist 1
    ]
    df = spark.createDataFrame([(n,) for n in names], "p_name string")
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in blocked_fuzzy_self_join(df, "p_name", 3).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            x, y = sorted((a, b))
            if set(x.split()) & set(y.split()) and lev(x, y) <= 3:
                want[(x, y)] = lev(x, y)
    assert got == want
    assert got[("acme health clinic", "acme helth clinic")] == 1
    assert got[("riverside surgary", "riverside surgery")] == 1
    assert ("acme dental clinic", "acme health clinic") not in got  # dist 5


def test_contrastive_pairs_selection_logic(spark):
    """Pin the mining semantics against the pool recomputed from the
    verified brute path: per anchor the positive is the LOWEST-rank
    same-label neighbor, the negatives are exactly the lowest-rank
    different-label neighbors in order, and anchors lacking a
    same-label neighbor in the pool are absent."""
    from hubsit_health_analytics_etl_spark.operators.similarity import (
        brute_force_topk,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads._shared import (
        ANN_QUERY_LIMIT,
    )
    from hubsit_health_analytics_etl_spark.workloads.w15_linkage_dsir import (
        CONTRASTIVE_NEG,
        CONTRASTIVE_POOL,
        q_contrastive_training_pairs,
    )

    sf = SF_SMOKE
    emb = load_table(spark, sf, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    pool = {}
    cand = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT), CONTRASTIVE_POOL
    )
    for r in cand.collect():
        pool.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    got = {}
    for r in q_contrastive_training_pairs(spark, sf).collect():
        got.setdefault(r["anchor_id"], {"pos": r["pos_id"], "negs": {}})
        got[r["anchor_id"]]["negs"][r["neg_rank"]] = r["neg_id"]
        assert labels[r["pos_id"]] == labels[r["anchor_id"]]
        assert labels[r["neg_id"]] != labels[r["anchor_id"]]
    for a, ranked in pool.items():
        ranked.sort()
        same = [n for _, n in ranked if labels[n] == labels[a]]
        diff = [n for _, n in ranked if labels[n] != labels[a]]
        if not same or not diff:
            assert a not in got
            continue
        assert got[a]["pos"] == same[0]
        want_negs = {i + 1: n for i, n in enumerate(diff[:CONTRASTIVE_NEG])}
        assert got[a]["negs"] == want_negs
    assert got, "fixture produced no triplets"


def test_epoch_shuffle_plan_is_a_fresh_permutation_per_epoch(spark):
    """Properties of the shuffle plan: every doc appears exactly once
    per epoch; positions within each (epoch, shard) are contiguous
    1..n; epochs are DIFFERENT permutations; and the plan reproduces
    bit-identically on re-execution (the rand() failure mode)."""
    from hubsit_health_analytics_etl_spark.workloads.w15_linkage_dsir import (
        SHUFFLE_EPOCHS,
        SHUFFLE_SHARDS,
        q_epoch_shuffle_plan,
    )

    rows = [tuple(r) for r in q_epoch_shuffle_plan(spark, SF_SMOKE).collect()]
    again = [tuple(r) for r in q_epoch_shuffle_plan(spark, SF_SMOKE).collect()]
    assert sorted(rows) == sorted(again)

    by_epoch = {}
    by_shard = {}
    for epoch, doc_id, shard, pos in rows:
        assert 0 <= shard < SHUFFLE_SHARDS
        by_epoch.setdefault(epoch, []).append(doc_id)
        by_shard.setdefault((epoch, shard), []).append(pos)
    assert set(by_epoch) == set(range(SHUFFLE_EPOCHS))
    n_docs = len(by_epoch[0])
    for e, docs in by_epoch.items():
        assert len(docs) == n_docs == len(set(docs))
    for key, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), key
    # epochs order the docs differently: compare shard-0 sequences
    seq = {
        e: [d for ee, d, s, p in sorted(rows, key=lambda t: (t[0], t[2], t[3]))
            if ee == e and s == 0]
        for e in range(SHUFFLE_EPOCHS)
    }
    assert seq[0] != seq[1] and seq[1] != seq[2]


def test_quality_feature_iv_matches_pure_python_reference(spark):
    """Independent reference: replicate NTILE bucketing (ceil-sized
    leading buckets over the (val, doc_id) order) and the smoothed
    WOE/IV arithmetic in pure Python from the collected per-doc
    features; every (feature, bucket) row must match, and the
    monotonicity IV exists for must show — a feature entering the
    keep rule scores nonzero IV."""
    import math

    from hubsit_health_analytics_etl_spark.operators.textanalysis import (
        quality_features,
        quality_score,
    )
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w15_linkage_dsir import (
        IV_BUCKETS,
        q_quality_feature_iv,
    )

    sf = SF_SMOKE
    docs = load_table(spark, sf, "documents")
    f = quality_features("text")
    rows = docs.select(
        "doc_id",
        f["n_tokens"].cast("double").alias("n_tokens"),
        f["mean_word_len"].alias("mean_word_len"),
        f["punct_ratio"].alias("punct_ratio"),
        (quality_score("text") >= 0.7).cast("int").alias("good"),
    ).collect()
    got = {
        (r["feature"], r["bucket"]): (r["n_good"], r["n_bad"], r["woe_u6"], r["iv_u6"])
        for r in q_quality_feature_iv(spark, sf).collect()
    }

    q = IV_BUCKETS
    for feat in ("n_tokens", "mean_word_len", "punct_ratio"):
        ordered = sorted(rows, key=lambda r: (r[feat], r["doc_id"]))
        n = len(ordered)
        sizes = [n // q + (1 if i < n % q else 0) for i in range(q)]
        buckets, i = [], 0
        for b, s in enumerate(sizes, 1):
            buckets += [(b, r["good"]) for r in ordered[i:i + s]]
            i += s
        cnt = {}
        for b, good in buckets:
            g, bad = cnt.get(b, (0, 0))
            cnt[b] = (g + good, bad + (1 - good))
        gt = sum(g for g, _ in cnt.values())
        bt = sum(b_ for _, b_ in cnt.values())
        contribs = []
        for b in sorted(cnt):
            g, bad = cnt[b]
            ratio = ((g + 1) * (bt + q)) / ((bad + 1) * (gt + q))
            woe = math.log(ratio)
            contribs.append(((g + 1) / (gt + q) - (bad + 1) / (bt + q)) * woe)
            assert got[(feat, b)][:3] == (g, bad, math.floor(woe * 1e6)), (feat, b)
        iv = math.floor(sum(contribs) * 1e6)
        assert all(got[(feat, b)][3] == iv for b in cnt), feat
    # the above-median target is balanced, so at least one feature
    # must carry real signal (nonzero IV)
    assert any(got[(f_, 1)][3] != 0
               for f_ in ("punct_ratio", "n_tokens", "mean_word_len"))


def test_link_prediction_matches_pure_python_reference(spark):
    """Independent reference: brute-force CN/Adamic-Adar over every
    non-adjacent pair of a crafted graph — including a pair whose
    only connector is a hub (low AA) vs one connected through rare
    nodes (high AA at equal CN), the property AA exists for — and
    the hub_cap filter semantics."""
    import math

    from hubsit_health_analytics_etl_spark.operators.clusters import (
        link_prediction_scores,
    )

    # hub h connects a,b,c,d,e; rare path: a-r1-b and a-r2-b
    und = (
        [("h", x) for x in ("a", "b", "c", "d", "e")]
        + [("a", "r1"), ("r1", "b"), ("a", "r2"), ("r2", "b")]
    )
    canon = [tuple(sorted(p)) for p in und]
    df = spark.createDataFrame(canon, "u string, v string")

    def reference(cap=None):
        adj = {}
        for x, y in canon:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        deg = {z: len(ns) for z, ns in adj.items()}
        out = {}
        nodes = sorted(adj)
        eset = set(canon)
        for i, x in enumerate(nodes):
            for y in nodes[i + 1:]:
                if (x, y) in eset:
                    continue
                centers = [
                    z for z in sorted(adj[x] & adj[y])
                    if cap is None or deg[z] <= cap
                ]
                if centers:
                    out[(x, y)] = (
                        len(centers),
                        sum(1.0 / math.log(deg[z]) for z in centers),
                    )
        return out

    got = {
        (r["u"], r["v"]): (r["cn"], r["aa"])
        for r in link_prediction_scores(df).collect()
    }
    want = reference()
    assert set(got) == set(want)
    for k, (cn, aa) in want.items():
        assert got[k][0] == cn and abs(got[k][1] - aa) < 1e-9
    # (a,b): two rare connectors (deg 2) + hub (deg 5) -> cn 3;
    # (c,d): hub only -> cn 1, and lower AA than either rare connector
    assert got[("a", "b")][0] == 3 and got[("c", "d")][0] == 1
    assert got[("c", "d")][1] < 1.0 / math.log(2)
    # hub_cap drops hub-only pairs entirely, keeps rare-path evidence
    capped = {
        (r["u"], r["v"]): (r["cn"], r["aa"])
        for r in link_prediction_scores(df, hub_cap=4).collect()
    }
    want_capped = reference(cap=4)
    assert set(capped) == set(want_capped) and ("c", "d") not in capped
    assert capped[("a", "b")][0] == 2


def test_kcore_peel_matches_pure_python_and_converges(spark):
    """Independent reference: iterative peeling in pure Python on a
    crafted graph with a CASCADE (removing a fringe node drops its
    neighbor below k — the case a single-pass degree filter gets
    wrong), node-for-node with degrees; plus the convergence pin the
    fixed-round contract rests on: one extra round changes nothing
    once stationary."""
    from itertools import combinations

    from hubsit_health_analytics_etl_spark.operators.clusters import kcore_peel

    # K4 core {1,2,3,4}; chain 4-5-6 where 5 survives round 1 by
    # leaning on 6 and 4... deg(5)=2 <3 -> peel; then 6 cascades.
    und = (
        list(combinations([1, 2, 3, 4], 2))
        + [(4, 5), (5, 6), (5, 7), (6, 7)]
    )
    df = spark.createDataFrame(und, "u bigint, v bigint")

    def reference(k, rounds):
        edges = set(und)
        for _ in range(rounds):
            deg = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            edges = {(a, b) for a, b in edges if a in keep and b in keep}
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return deg

    got = {
        r["node"]: r["degree"] for r in kcore_peel(df, 3, 4).collect()
    }
    assert got == reference(3, 4) == {1: 3, 2: 3, 3: 3, 4: 3}
    # single-pass (rounds=1) would KEEP 5/6/7 (deg 3 each in round 1?
    # no: deg(5)=3, deg(6)=2 -> 6 peels, cascade kills 5 and 7 later)
    assert reference(3, 1) != reference(3, 4)
    # stationarity: an extra round changes nothing
    assert reference(3, 5) == reference(3, 4)
    got5 = {
        r["node"]: r["degree"] for r in kcore_peel(df, 3, 5).collect()
    }
    assert got5 == got


def test_km_survival_matches_pure_python_and_censoring_is_nonvacuous(spark):
    """Independent reference: textbook Kaplan-Meier computed in pure
    python from the raw fixture rows — per-customer (duration week,
    event flag) with administrative censoring at the follow-up
    horizon — must match the query's risk sets, event counts and
    log-survival exactly. Also pins that censoring actually OCCURS in
    the fixture (some customers never return in-window), so the
    risk-set-shrinks-without-event property is exercised, not
    vacuous: a plain ECDF over event durations would disagree."""
    import math

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w16_behavioral_stats import (
        KM_CENSOR_WEEK,
        KM_HORIZON_DAYS,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    ).collect()
    r_orders = {
        r["l_orderkey"]
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    first, first_r = {}, {}
    for r in orders:
        c, d = r["o_custkey"], r["o_orderdate"]
        if c not in first or d < first[c]:
            first[c] = d
        if r["o_orderkey"] in r_orders and (c not in first_r or d < first_r[c]):
            first_r[c] = d
    # per-customer (week, event) under the horizon
    per_week = {}  # week -> [n_entering, d_events]
    n_censored = 0
    for c, t0 in first.items():
        ev = first_r.get(c)
        days = (ev - t0).days if ev is not None else None
        if days is not None and days <= KM_HORIZON_DAYS:
            wk, evt = days // 7, 1
        else:
            wk, evt = KM_CENSOR_WEEK, 0
            n_censored += 1
        slot = per_week.setdefault(wk, [0, 0])
        slot[0] += 1
        slot[1] += evt
    assert n_censored > 0  # censoring exercised, not vacuous
    n_at_risk = len(first)
    ln_s = 0.0
    want = {}
    for wk in sorted(per_week):
        entering, d = per_week[wk]
        if d > 0:
            ln_s += math.log((n_at_risk - d) / n_at_risk)
            want[wk] = (n_at_risk, d, math.floor(ln_s * 1e6))
        n_at_risk -= entering
    got = {
        r["week"]: (r["n_risk"], r["n_events"], r["ln_s_u6"])
        for r in w.QUERIES["customer_return_survival_km"](
            spark, SF_SMOKE
        ).collect()
    }
    assert got == want
    # survival is a decreasing step function
    curve = [v[2] for _, v in sorted(got.items())]
    assert all(a > b for a, b in zip(curve, curve[1:]))


def test_cusum_prefix_identity_matches_literal_recurrence(spark):
    """Independent reference: the query computes CUSUM via Page's
    prefix identity (running-sum − min(0, running-min)) — both engines
    share that rewrite, so the oracle hash cannot catch a bug in it.
    Recompute the literal recurrence S_t = max(0, S_{t-1} + drift) in
    pure python from the fixture's daily revenue and require equality
    on every day, plus alarm non-vacuity and the reset property (the
    statistic returns to exactly 0 after noise, which a plain
    cumulative sum never does)."""
    from hubsit_health_analytics_etl_spark import workload as w

    rows = sorted(
        w.QUERIES["daily_revenue_cusum"](spark, SF_SMOKE).collect(),
        key=lambda r: r["day"],
    )
    xs = [r["rev_c"] for r in rows]
    mu = sum(xs) // len(xs)
    mad = sum(abs(x - mu) for x in xs) // len(xs)
    k = mad // 2
    s_pos = s_neg = 0
    for r, x in zip(rows, xs):
        s_pos = max(0, s_pos + (x - mu - k))
        s_neg = max(0, s_neg + (mu - k - x))
        assert (r["s_pos_c"], r["s_neg_c"]) == (s_pos, s_neg), r["day"]
        assert r["alarm"] == int(s_pos > 5 * mad or s_neg > 5 * mad)
    assert any(r["alarm"] for r in rows)
    # reset property: the one-sided statistic hits exactly 0 on some
    # later day (noise decays), unlike a drifting cumulative sum
    assert any(r["s_pos_c"] == 0 for r in rows[1:])


def test_gini_matches_pairwise_definition(spark):
    """Independent reference: the query computes Gini via the rank-sum
    identity (2·Σi·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) — recompute it from the
    DEFINITION, mean absolute pairwise difference Σᵢⱼ|xᵢ−xⱼ|/(2n·Σx),
    with exact python big-ints, plus the top-decile share by literal
    sort-desc-and-take. Bounds: 0 ≤ G < 1 in micro-units, and the
    top decile must hold at least its proportional share."""
    import math

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    cust = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load_table(spark, SF_SMOKE, "customer").collect()
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    rev = {k: 0 for k in cust}
    for r in load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect():
        if r["o_custkey"] in rev:
            rev[r["o_custkey"]] += int(math.floor(r["o_totalprice"] * 100))
    by_nation = {}
    for ck, nk in cust.items():
        by_nation.setdefault(nat[nk], []).append(rev[ck])
    got = {
        r["nation"]: (r["n_cust"], r["total_rev_c"], r["gini_u6"],
                      r["top_decile_u6"])
        for r in w.QUERIES["nation_revenue_gini"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(by_nation)
    for nation, xs in by_nation.items():
        n, s0 = len(xs), sum(xs)
        pair = sum(abs(a - b) for a in xs for b in xs)  # ordered pairs
        want_gini = (pair * 1000000) // (2 * n * s0)
        top = sorted(xs, reverse=True)[: (n + 9) // 10]
        want_top = (sum(top) * 1000000) // s0
        assert got[nation] == (n, s0, want_gini, want_top), nation
        assert 0 <= want_gini < 1000000
        assert want_top * 10 >= 1000000 - 10  # >= proportional share


def test_markov_transitions_match_pure_python_reference(spark):
    """Independent reference: replay each user's (ts, event_id)-sorted
    stream in python, count successor pairs, and re-derive the
    micro-unit probabilities with integer floor division. Row
    distribution law: per from_type the p_u6 sum is within |to|
    truncation units of 10⁶."""
    from collections import Counter

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    ev = sorted(
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    want = Counter()
    for a, b in zip(ev, ev[1:]):
        if a["user_id"] == b["user_id"]:
            want[(a["event_type"], b["event_type"])] += 1
    from_tot = Counter()
    for (f, _), n in want.items():
        from_tot[f] += n
    got = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["p_u6"])
        for r in w.QUERIES["event_markov_transitions"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k, n in want.items():
        assert got[k] == (n, n * 1000000 // from_tot[k[0]]), k
    by_from = Counter()
    for (f, _), (_, p) in got.items():
        by_from[f] += p
    for f, s in by_from.items():
        n_to = sum(1 for (g, _) in got if g == f)
        assert 1000000 - n_to < s <= 1000000, f


def test_rfm_segments_match_pure_python_reference(spark):
    """Independent reference: recompute per-customer R/F/M metrics and
    NTILE(5) bucketing (ceil-first rule with the custkey tie-break) in
    python, aggregate to segments, compare row-for-row; the segment
    populations must sum to the buying-customer count."""
    import math

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    per = {}
    for r in (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", "o_totalprice", "o_orderdate")
        .collect()
    ):
        k = r["o_custkey"]
        d = r["o_orderdate"]
        d = d.date() if hasattr(d, "date") else d
        f, m, last = per.get(k, (0, 0, None))
        per[k] = (
            f + 1,
            m + int(math.floor(r["o_totalprice"] * 100)),
            d if last is None or d > last else last,
        )
    gmax = max(v[2] for v in per.values())

    def ntile5(order):  # order: list of custkey in sort order
        n = len(order)
        base, extra = divmod(n, 5)
        out, i = {}, 0
        for b in range(1, 6):
            size = base + (1 if b <= extra else 0)
            for k in order[i : i + size]:
                out[k] = b
            i += size
        return out

    rec = {k: (gmax - v[2]).days for k, v in per.items()}
    r_s = ntile5(sorted(per, key=lambda k: (-rec[k], k)))
    f_s = ntile5(sorted(per, key=lambda k: (per[k][0], k)))
    m_s = ntile5(sorted(per, key=lambda k: (per[k][1], k)))
    want = {}
    for k, (f, m, _) in per.items():
        seg = (r_s[k], f_s[k], m_s[k])
        n, mc, no, mn, mx = want.get(seg, (0, 0, 0, 10**9, -1))
        want[seg] = (n + 1, mc + m, no + f, min(mn, rec[k]), max(mx, rec[k]))
    got = {
        (r["r_score"], r["f_score"], r["m_score"]): (
            r["n_cust"], r["monetary_c"], r["n_orders"],
            r["min_recency_days"], r["max_recency_days"], r["segment"],
        )
        for r in w.QUERIES["customer_rfm_segments"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for seg, vals in want.items():
        assert got[seg][:5] == vals, seg
        assert got[seg][5] == "".join(str(x) for x in seg)
    assert sum(v[0] for v in want.values()) == len(per)


def test_benford_audit_constants_and_distribution_law(spark):
    """The expected-share constants are floor(10⁶·log₁₀(1+1/d))
    (recomputed from math.log10); observed shares come from the true
    digit counts; counts sum to the positive-price order count; the
    observed shares sum to 10⁶ within truncation."""
    import math

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    rows = w.QUERIES["benford_price_audit"](spark, SF_SMOKE).collect()
    assert {r["digit"] for r in rows} <= set(range(1, 10))
    for r in rows:
        assert r["exp_u6"] == int(1e6 * math.log10(1 + 1 / r["digit"]))
        assert r["dev_u6"] == abs(r["obs_u6"] - r["exp_u6"])
    prices = [
        r["o_totalprice"]
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_totalprice")
        .collect()
        if r["o_totalprice"] > 0
    ]
    total = len(prices)
    assert sum(r["n_orders"] for r in rows) == total
    for r in rows:
        want_n = sum(
            1
            for p in prices
            if str(int(math.floor(p * 100)))[0] == str(r["digit"])
        )
        assert r["n_orders"] == want_n, r["digit"]
        assert r["obs_u6"] == want_n * 1000000 // total
    s = sum(r["obs_u6"] for r in rows)
    assert 1000000 - len(rows) < s <= 1000000


def test_peak_concurrency_matches_pure_python_sweep(spark):
    """Independent reference: rebuild 30-min-gap sessions in python,
    split them at midnight, sweep each day's +1/−1 points, compare
    peak and touch counts per day. Bounds: peak ≤ sessions touching
    the day, and ≥ 1 wherever a session exists."""
    from collections import defaultdict
    from datetime import timedelta

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    by_user = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "events").select("user_id", "ts").collect():
        by_user[r["user_id"]].append(r["ts"])
    sessions = []
    for ts_list in by_user.values():
        ts_list.sort()
        start = prev = ts_list[0]
        for t in ts_list[1:]:
            if (t - prev) >= timedelta(minutes=30):
                sessions.append((start, prev))
                start = t
            prev = t
        sessions.append((start, prev))
    want_peak, want_n = {}, defaultdict(int)
    points = defaultdict(list)
    for a0, b0 in sessions:
        day = a0.date()
        while day <= b0.date():
            day_start = type(a0)(day.year, day.month, day.day)
            day_end = day_start + timedelta(days=1) - timedelta(microseconds=1)
            points[day].append((max(a0, day_start), 1))
            points[day].append((min(b0, day_end), -1))
            want_n[day] += 1
            day += timedelta(days=1)
    for day, pts in points.items():
        run = peak = 0
        for _, d in sorted(pts, key=lambda p: (p[0], -p[1])):
            run += d
            peak = max(peak, run)
        want_peak[day] = peak
    got = {
        r["day"]: (r["peak_concurrent"], r["n_active_sessions"])
        for r in w.QUERIES["peak_concurrent_sessions"](spark, SF_SMOKE).collect()
    }
    assert got == {
        str(day): (want_peak[day], want_n[day]) for day in points
    }
    for day, (peak, n) in got.items():
        assert 1 <= peak <= n, day


def test_fd_audit_pk_clean_and_violations_detected(spark):
    """Primary-key FDs must report zero violations with fan-out 1;
    known-denormalized candidates must report violations; every rate
    is the integral micro-unit division of its own counters; the
    documents source→lang branch is replicated in pure python."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    got = {
        r["check_name"]: r
        for r in w.QUERIES["functional_dependency_audit"](spark, SF_SMOKE).collect()
    }
    assert len(got) == 9
    for clean in ("customer: c_custkey -> c_mktsegment", "nation: n_nationkey -> n_name"):
        assert got[clean]["n_violations"] == 0
        assert got[clean]["max_rhs_card"] == 1
        assert got[clean]["violation_pct_u6"] == 0
    assert got["lineitem: l_orderkey -> l_returnflag"]["n_violations"] > 0
    for r in got.values():
        assert r["violation_pct_u6"] == r["n_violations"] * 1000000 // r["n_groups"]
        assert 0 <= r["n_violations"] <= r["n_groups"]
    langs = defaultdict(set)
    for r in load_table(spark, SF_SMOKE, "documents").select("source", "lang").collect():
        langs[r["source"]].add(r["lang"])
    doc = got["documents: source -> lang"]
    assert doc["n_groups"] == len(langs)
    assert doc["n_violations"] == sum(1 for v in langs.values() if len(v) > 1)
    assert doc["max_rhs_card"] == max(len(v) for v in langs.values())


def test_source_diversity_matches_pure_python_reference(spark):
    """Independent reference: per-source language histogram in python,
    Gini–Simpson via exact big-int arithmetic, dominant language with
    the (count desc, lang asc) tie-break. Bounds: 0 ≤ simpson < 10⁶,
    and a single-language source scores exactly 0."""
    from collections import Counter, defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    hist = defaultdict(Counter)
    for r in load_table(spark, SF_SMOKE, "documents").select("source", "lang").collect():
        hist[r["source"]][r["lang"]] += 1
    got = {
        r["source"]: r
        for r in w.QUERIES["source_lang_diversity"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(hist)
    for src, cnt in hist.items():
        n = sum(cnt.values())
        sq = sum(c * c for c in cnt.values())
        top_lang, top_n = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        r = got[src]
        assert r["n_docs"] == n and r["n_langs"] == len(cnt)
        assert (r["top_lang"], r["top_share_u6"]) == (top_lang, top_n * 1000000 // n)
        assert r["simpson_u6"] == (n * n - sq) * 1000000 // (n * n)
        assert 0 <= r["simpson_u6"] < 1000000
        if len(cnt) == 1:
            assert r["simpson_u6"] == 0


def test_ewma_matches_pure_python_reference(spark):
    """Independent reference: renormalizing 10-lag halving-weight
    average replayed in python over the day-sorted series. Smoothing
    law: the EWMA's deviation from a constant series is 0, and on the
    real series |dev| of the smoothed curve never exceeds the raw
    day-to-day swing's max."""
    from hubsit_health_analytics_etl_spark import workload as w

    rows = sorted(
        w.QUERIES["daily_revenue_ewma"](spark, SF_SMOKE).collect(),
        key=lambda r: r["day"],
    )
    xs = [r["rev_c"] for r in rows]
    K = 10
    for t, r in enumerate(rows):
        num = den = 0
        for i in range(min(K, t + 1)):
            wgt = 1 << (K - 1 - i)
            num += xs[t - i] * wgt
            den += wgt
        q = num // den if num >= 0 else -((-num) // den)
        assert r["ewma_c"] == q, r["day"]
        assert r["dev_c"] == r["rev_c"] - q
    assert rows[0]["ewma_c"] == rows[0]["rev_c"] and rows[0]["dev_c"] == 0
    max_swing = max(abs(a - b) for a, b in zip(xs, xs[1:]))
    assert all(abs(r["dev_c"]) <= max_swing for r in rows)


def test_theilsen_matches_pure_python_reference(spark):
    """Independent reference: all-pairs truncating-division slopes +
    exact interpolated median and big-int OLS, recomputed in python.
    Robustness pin: the Sen slope is invariant to corrupting ONE
    point's revenue (python side), unlike OLS."""
    import statistics

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    import pyspark.sql.functions as FF

    d = sorted(
        (r["day"], r["rev_c"])
        for r in load_table(spark, SF_SMOKE, "orders")
        .groupBy(FF.col("o_orderdate").alias("day"))
        .agg(
            FF.expr(
                "cast(sum(cast(floor(o_totalprice * 100) as bigint)) as bigint)"
            ).alias("rev_c")
        )
        .collect()
    )
    d0 = d[0][0]
    pts = [((day - d0).days, rev) for day, rev in d]

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def sen2(points):
        slopes = [
            trunc_div((rb - ra) * 1000000, (xb - xa))
            for i, (xa, ra) in enumerate(points)
            for (xb, rb) in points[i + 1 :]
            if xb != xa
        ]
        return int(statistics.median(slopes) * 2), len(slopes)

    want_sen2, n_pairs = sen2(pts)
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    want_ols = trunc_div((n * sxy - sx * sy) * 1000000, (n * sxx - sx * sx))
    [row] = w.QUERIES["daily_revenue_theilsen"](spark, SF_SMOKE).collect()
    assert (row["n_days"], row["n_pairs"]) == (n, n_pairs)
    assert row["sen_slope2_u6"] == want_sen2
    assert row["ols_slope_u6"] == want_ols
    # robustness: blow up one point 100x — Sen moves a little (median
    # of pair slopes, ≤ n-1 of which touch the outlier), OLS moves a lot
    corrupt = [(x, y * 100 if i == n // 2 else y) for i, (x, y) in enumerate(pts)]
    c_sen2, _ = sen2(corrupt)
    c_sxy = sum(x * y for x, y in corrupt)
    c_sy = sum(y for _, y in corrupt)
    c_ols = trunc_div((n * c_sxy - sx * c_sy) * 1000000, (n * sxx - sx * sx))
    assert abs(c_ols - want_ols) > 10 * abs(c_sen2 - want_sen2)


def test_skyline_matches_bruteforce_dominance(spark):
    """Independent reference: brute-force O(n²) dominance test per
    brand — keep a part iff NO other part is cheaper-or-equal AND
    larger-or-equal with at least one strict. Equal (price, size)
    twins must BOTH survive."""
    import math
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    brands = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "part").collect():
        brands[r["p_brand"]].append(
            (r["p_partkey"], int(math.floor(r["p_retailprice"] * 100)), r["p_size"])
        )
    want = set()
    for brand, parts in brands.items():
        for pk, pc, sz in parts:
            dominated = any(
                (pc2 <= pc and sz2 >= sz and (pc2 < pc or sz2 > sz))
                for pk2, pc2, sz2 in parts
                if pk2 != pk
            )
            if not dominated:
                want.add((brand, pk, pc, sz))
    got = {
        (r["p_brand"], r["p_partkey"], r["price_c"], r["p_size"])
        for r in w.QUERIES["brand_price_size_skyline"](spark, SF_SMOKE).collect()
    }
    assert got == want
    # every brand has at least its cheapest-then-largest part
    assert {b for b, *_ in got} == set(brands)


def test_bellman_ford_matches_pure_python_reference(spark):
    """Independent reference: bounded-hop DP (full relaxation per
    round) over the collected weighted co-purchase graph with the
    same seeds. Laws: seeds cost 0; every cost is reachable within
    the round budget; weighted cost ≥ (hop distance)·min edge weight."""
    from collections import Counter, defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w16_behavioral_stats import (
        BF_MAX_ROUNDS,
    )
    from hubsit_health_analytics_etl_spark.workloads.w14_graph import (
        PPR_SEEDS,
        TRI_MIN_SUPPORT,
    )

    op = {
        (r["l_orderkey"], r["l_partkey"])
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    }
    by_order = defaultdict(list)
    for ok, pk in op:
        by_order[ok].append(pk)
    support = Counter()
    for parts in by_order.values():
        parts = sorted(set(parts))
        for i, u in enumerate(parts):
            for v in parts[i + 1 :]:
                support[(u, v)] += 1
    adj = defaultdict(list)
    for (u, v), c in support.items():
        if c >= TRI_MIN_SUPPORT:
            w_ = 1000000 // c
            adj[u].append((v, w_))
            adj[v].append((u, w_))
    deg = Counter()
    for ok, pk in op:
        if pk in adj:
            deg[pk] += 1
    seeds = [pk for pk in sorted(adj, key=lambda p: (-deg[p], p))[:PPR_SEEDS]]
    cost = {s: 0 for s in seeds}
    for _ in range(BF_MAX_ROUNDS):
        nxt = dict(cost)
        for u, cu in cost.items():
            for v, w_ in adj[u]:
                if v not in nxt or cu + w_ < nxt[v]:
                    nxt[v] = cu + w_
        cost = nxt
    got = {
        r["part_key"]: r["cost"]
        for r in w.QUERIES["part_weighted_distance"](spark, SF_SMOKE).collect()
    }
    assert got == cost
    for s in seeds:
        assert got[s] == 0
    min_w = min(w_ for nbrs in adj.values() for _, w_ in nbrs)
    hops = {
        r["part_key"]: r["dist"]
        for r in w.QUERIES["part_hops_bfs"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(hops)  # same graph, same round budget
    for node, c in got.items():
        assert c >= hops[node] * min_w


def test_markov_maintenance_splices_neighbors_on_delete(spark):
    """The adjacency twist on crafted data: user stream A→B→C with B
    deleted must yield the SPLICED edge A→C — per-edge subtraction
    (remove A→B and B→C, add nothing) would leave an empty matrix and
    is provably the wrong law. Also: an untouched user's edges must
    survive maintenance bit-identically."""
    import datetime as dt

    from hubsit_health_analytics_etl_spark.workloads.w17_quality_calendar import (
        _markov_counts,
        _markov_maintain,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, "A"),
        (1, t0 + dt.timedelta(minutes=1), 11, "B"),
        (1, t0 + dt.timedelta(minutes=2), 12, "C"),
        (2, t0, 20, "X"),
        (2, t0 + dt.timedelta(minutes=1), 21, "Y"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, event_type string"
    )
    idx = _markov_counts(ev)
    deleted = ev.filter(F.col("event_id") == 11)
    kept = ev.filter(F.col("event_id") != 11)
    affected = deleted.select("user_id").distinct()
    old = _markov_counts(ev.join(affected, "user_id", "left_semi"))
    new = _markov_counts(kept.join(affected, "user_id", "left_semi"))
    got = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["p_u6"])
        for r in _markov_maintain(idx, old, new).collect()
    }
    assert got == {("A", "C"): (1, 1000000), ("X", "Y"): (1, 1000000)}
    # the wrong law for contrast: per-edge subtraction misses A→C
    wrong = _markov_maintain(idx, _markov_counts(ev.join(affected, "user_id", "left_semi")), _markov_counts(spark.createDataFrame([], ev.schema)))
    assert {(r["from_type"], r["to_type"]) for r in wrong.collect()} == {("X", "Y")}


def test_zipf_fit_matches_pure_python_reference(spark):
    """Independent reference: recount tokens, rank the head, quantize
    ln values to micro-units and run big-int OLS. Law pins: slope is
    negative (frequency falls with rank) and the intercept sits within
    ln(2) of ln(c_max) in micro-units (the fitted line anchors the
    head)."""
    import math
    from collections import Counter

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w17_quality_calendar import (
        ZIPF_TOP_R,
    )

    cnt = Counter()
    for r in load_table(spark, SF_SMOKE, "documents").select("text").collect():
        for t in r["text"].lower().split(" "):
            if t:
                cnt[t] += 1
    head = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:ZIPF_TOP_R]
    pts = [
        (
            int(math.floor(1e6 * math.log(rank))),
            int(math.floor(1e6 * math.log(c))),
        )
        for rank, (_, c) in enumerate(head, start=1)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    [row] = w.QUERIES["corpus_zipf_fit"](spark, SF_SMOKE).collect()
    assert row["n_terms"] == n
    assert row["c_max"] == head[0][1]
    assert row["slope_u6"] == trunc_div(num * 1000000, den)
    assert row["intercept_u6"] == trunc_div(sy * den - num * sx, n * den)
    assert row["slope_u6"] < 0
    assert abs(row["intercept_u6"] - int(1e6 * math.log(row["c_max"]))) < int(
        1e6 * math.log(2)
    )


def test_reciprocal_best_is_mutual_and_subset_of_candidates(spark):
    """Laws: every reciprocal pair is a fuzzy candidate; each side's
    one-sided best (python recompute over the candidate set) points
    back at the other; a name appears in at most ONE reciprocal pair
    per side of the canonical ordering (best is unique by tie-break)."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w

    cands = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in w.QUERIES["part_name_fuzzy_matches"](spark, SF_SMOKE).collect()
    }
    sym = defaultdict(list)
    for (a, b), d in cands.items():
        sym[a].append((d, b))
        sym[b].append((d, a))
    best = {n: min(v)[1] for n, v in sym.items()}
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in w.QUERIES["part_name_reciprocal_best"](spark, SF_SMOKE).collect()
    }
    want = {
        (a, b): d
        for (a, b), d in cands.items()
        if best.get(a) == b and best.get(b) == a
    }
    assert got == want
    seen = set()
    for a, b in got:
        assert a < b
        assert a not in seen and b not in seen
        seen.update((a, b))


def test_chi2_matches_pure_python_reference(spark):
    """Independent reference: contingency table, per-cell quantized
    terms and Cramér's V² recomputed with python big-ints. Laws:
    χ² ≥ 0 and V² ≤ 10⁶; a python-permuted INDEPENDENT table (outer
    product of the marginals) scores ~0."""
    from collections import Counter

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    seg_of = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF_SMOKE, "customer").collect()
    }
    obs = Counter()
    for r in load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderpriority"
    ).collect():
        obs[(seg_of[r["o_custkey"]], r["o_orderpriority"])] += 1

    def chi2_u6(table):
        rt, ct, n = Counter(), Counter(), 0
        for (s, p), o in table.items():
            rt[s] += o
            ct[p] += o
            n += o
        tot = 0
        for (s, p), o in table.items():
            d = o * n - rt[s] * ct[p]
            tot += d * d * 1000000 // (n * rt[s] * ct[p])
        dof = (len(rt) - 1) * (len(ct) - 1)
        v2 = tot // (n * min(len(rt) - 1, len(ct) - 1))
        return n, dof, tot, v2

    n, dof, want_chi2, want_v2 = chi2_u6(obs)
    [row] = w.QUERIES["segment_priority_chi2"](spark, SF_SMOKE).collect()
    assert (row["n_rows"], row["dof"]) == (n, dof)
    assert row["chi2_u6"] == want_chi2
    assert row["cramers_v2_u6"] == want_v2
    assert row["chi2_u6"] >= 0 and 0 <= row["cramers_v2_u6"] <= 1000000
    # independence control: a table built exactly from the marginal
    # products (scaled) must score ~0 per cell
    rt, ct = Counter(), Counter()
    for (s, p), o in obs.items():
        rt[s] += o
        ct[p] += o
    indep = {
        (s, p): rt[s] * ct[p]
        for s in rt
        for p in ct
    }
    _, _, c0, _ = chi2_u6(indep)
    assert c0 <= len(indep)  # only truncation residue


def test_cohort_ltv_matches_pure_python_reference(spark):
    """Independent reference: cohort assignment, month ages and
    cumulative revenue replayed in python. Laws: cum_rev is
    monotone non-decreasing within a cohort; summing each cohort's
    final cum_rev reproduces total corpus revenue."""
    import math
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    orders = [
        (r["o_custkey"], r["o_orderdate"], int(math.floor(r["o_totalprice"] * 100)))
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    ]
    first = {}
    for ck, d, _ in orders:
        m = (d.year, d.month)
        if ck not in first or m < first[ck]:
            first[ck] = m
    cohort_n = defaultdict(int)
    for m in first.values():
        cohort_n[m] += 1
    rev = defaultdict(int)
    for ck, d, rc in orders:
        cy, cm = first[ck]
        age = (d.year - cy) * 12 + (d.month - cm)
        rev[(first[ck], age)] += rc
    want = {}
    for (cm, age), rc in rev.items():
        want[(f"{cm[0]:04d}-{cm[1]:02d}", age)] = rc
    got = {
        (r["cohort_month"], r["age_m"]): r
        for r in w.QUERIES["cohort_ltv_curve"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    by_cohort = defaultdict(list)
    for (cmon, age), r in got.items():
        assert r["rev_c"] == want[(cmon, age)]
        assert r["cohort_n"] == cohort_n[(int(cmon[:4]), int(cmon[5:]))]
        assert r["cum_ltv_c"] == r["cum_rev_c"] // r["cohort_n"]
        by_cohort[cmon].append((age, r["rev_c"], r["cum_rev_c"]))
    total = 0
    for cmon, rows in by_cohort.items():
        rows.sort()
        run = 0
        for age, rc, cum in rows:
            run += rc
            assert cum == run, (cmon, age)
        total += run
    assert total == sum(rc for _, _, rc in orders)


def test_trimmed_mean_matches_pure_python_reference(spark):
    """Independent reference: per-nation sort with the full tie-break,
    drop ⌊n/10⌋ each end, integer mean. Robustness law: the trimmed
    mean sits within the kept min/max and differs from the plain mean
    wherever tails are asymmetric."""
    import math
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load_table(spark, SF_SMOKE, "orders").collect()
    }
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    cnat = {
        r["c_custkey"]: nat[r["c_nationkey"]]
        for r in load_table(spark, SF_SMOKE, "customer").collect()
    }
    per = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).collect():
        per[cnat[orders[r["l_orderkey"]]]].append(
            (
                int(math.floor(r["l_extendedprice"] * 100)),
                r["l_orderkey"],
                r["l_linenumber"],
            )
        )
    got = {
        r["nation"]: r
        for r in w.QUERIES["nation_trimmed_mean_price"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per)
    for nation, items in per.items():
        items.sort()
        n = len(items)
        cut = n * 10 // 100
        kept = [p for p, _, _ in items[cut : n - cut]]
        r = got[nation]
        assert r["n_items"] == n and r["n_kept"] == len(kept)
        assert r["trimmed_mean_c"] == sum(kept) // len(kept)
        assert r["kept_min_c"] == kept[0] and r["kept_max_c"] == kept[-1]
        assert r["kept_min_c"] <= r["trimmed_mean_c"] <= r["kept_max_c"]


def test_hygiene_audit_counts_crafted_dirt(spark):
    """The audit on a crafted DIRTY frame: one arrival-order
    inversion, one duplicated id (appearing 3× → 2 excess), one empty
    type, one negative value — each counter must fire with the exact
    count (the fixture is clean, so this is where nonzero paths are
    exercised); rates are the integral micro-unit division."""
    import datetime as dt

    from hubsit_health_analytics_etl_spark.operators.profile import (
        event_stream_hygiene_audit,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        (1, ts(0), 1, "view", 1.0),
        (1, ts(5), 2, "click", 2.0),
        (1, ts(3), 3, "view", 1.0),     # arrives later, ts earlier → inversion
        (2, ts(0), 7, "view", 1.0),
        (2, ts(1), 7, "view", 1.0),     # dup id ×3 → 2 excess
        (2, ts(2), 7, "view", 1.0),
        (3, ts(0), 9, "", 1.0),         # empty type
        (3, ts(1), 10, "view", -4.0),   # negative value
    ]
    e = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp_ntz, event_id long, event_type string,"
        " value double",
    )
    got = {
        r["check_name"]: (r["n_bad"], r["n_total"], r["bad_pct_u6"])
        for r in event_stream_hygiene_audit(e).collect()
    }
    n = len(rows)
    assert got == {
        "arrival_order_inversions": (1, n, 1000000 // n),
        "duplicate_event_ids": (2, n, 2 * 1000000 // n),
        "null_or_empty_type": (1, n, 1000000 // n),
        "null_or_negative_value": (1, n, 1000000 // n),
    }


def test_orc_roundtrip_preserves_types(spark, tmp_path):
    """ORC write→read preserves long/double/date/timestamp_ntz/string
    values bit-for-bit (the format edge the export query's hash
    depends on)."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, 1.25, dt.date(2024, 2, 29), dt.datetime(2024, 1, 1, 12, 0, 0, 123456), "ação"),
            (2, -0.0, dt.date(1999, 1, 1), dt.datetime(1999, 1, 1, 0, 0, 0), "plain"),
        ],
        "id long, x double, d date, t timestamp_ntz, s string",
    )
    p = str(tmp_path / "orc_rt")
    df.write.format("orc").save(p)
    assert sorted(map(tuple, spark.read.format("orc").load(p).collect())) == sorted(
        map(tuple, df.collect())
    )


def test_pack_utilization_consistent_with_pack_bins(spark):
    """Cross-query law: the report's per-shard totals must equal
    token_pack_bins' assignment aggregated in python; fill rate is the
    integral division of its own counters; per shard, bin ids are the
    quantized start offsets, so the bins' token loads telescope back
    to the shard total."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.workloads.w06_joins_chunking import (
        PACK_BUDGET,
    )

    bins = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for r in w.QUERIES["token_pack_bins"](spark, SF_SMOKE).collect():
        b = bins[r["shard"]][r["bin"]]
        b[0] += 1
        b[1] += r["n_tokens"]
    got = {
        r["shard"]: r
        for r in w.QUERIES["pack_utilization_report"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(bins)
    for shard, per_bin in bins.items():
        r = got[shard]
        assert r["n_bins"] == len(per_bin)
        assert r["n_docs"] == sum(v[0] for v in per_bin.values())
        assert r["n_tokens"] == sum(v[1] for v in per_bin.values())
        assert r["fill_pct_u6"] == r["n_tokens"] * 1000000 // (
            r["n_bins"] * PACK_BUDGET
        )
        assert r["max_bin_tokens"] == max(v[1] for v in per_bin.values())
        assert r["min_bin_tokens"] == min(v[1] for v in per_bin.values())


def test_fertility_matches_pure_python_reference(spark):
    """Independent reference: the BPE-ish regex and whitespace word
    count replayed in python per language. Law: fertility ≥ 10⁶
    (a word is at least one subword)."""
    import re
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    pat = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9 ]")
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in load_table(spark, SF_SMOKE, "documents").select("lang", "text").collect():
        t = r["text"].lower()
        a = agg[r["lang"]]
        a[0] += 1
        a[1] += len(pat.findall(t))
        a[2] += sum(1 for x in t.split(" ") if x)
        a[3] += len(r["text"])
    got = {
        r["lang"]: r
        for r in w.QUERIES["tokenizer_fertility"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(agg)
    for lang, (nd, ns, nw, nc) in agg.items():
        r = got[lang]
        assert (r["n_docs"], r["n_subwords"], r["n_words"]) == (nd, ns, nw)
        assert r["fertility_u6"] == ns * 1000000 // nw
        assert r["chars_per_token_u6"] == nc * 1000000 // ns
        assert r["fertility_u6"] >= 1000000


def test_boilerplate_fraction_matches_pure_python_reference(spark):
    """Independent reference: distinct 3-word shingles, document
    frequency, relative threshold and per-doc fraction replayed in
    python. Laws: fraction ∈ [0, 10⁶]; a doc whose every shingle is
    unique scores 0 iff no shingle clears the df threshold."""
    from collections import Counter

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w17_quality_calendar import (
        BP_MIN_DF,
    )

    def shingles(text):
        toks = text.lower().split(" ")
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(n)}

    per_doc = {
        r["doc_id"]: shingles(r["text"])
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    }
    df = Counter(g for gs in per_doc.values() for g in gs)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_boilerplate"], r["boilerplate_u6"])
        for r in w.QUERIES["doc_boilerplate_fraction"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per_doc)
    any_bp = False
    for doc_id, gs in per_doc.items():
        nb = sum(1 for g in gs if df[g] >= BP_MIN_DF)
        assert got[doc_id] == (len(gs), nb, nb * 1000000 // len(gs)), doc_id
        assert 0 <= got[doc_id][2] <= 1000000
        any_bp = any_bp or nb > 0
    assert any_bp  # the fixture's near-dup clusters guarantee common shingles


def test_funnel_latency_matches_pure_python_reference(spark):
    """Independent reference: the qualifying rule replayed in python
    (most recent prior view within the deadline, first qualified
    click per user), then discrete percentiles at rank ⌈p·n⌉. Laws:
    min ≤ p50 ≤ p90 ≤ max and both percentiles are actual latency
    elements; converter count equals the funnel's step-2 user count."""
    from collections import defaultdict
    from datetime import timedelta

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w10_dataset_build import (
        FUNNEL_WINDOW_MIN,
    )

    by_user = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect():
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    lats = []
    for user, evs in by_user.items():
        evs.sort()
        last_view, got_lat = None, None
        for ts, _, et in evs:
            if (
                et == "click"
                and last_view is not None
                and last_view >= ts - timedelta(minutes=FUNNEL_WINDOW_MIN)
                and got_lat is None
            ):
                got_lat = int((ts - last_view).total_seconds() * 1_000_000)
            if et == "view":
                last_view = ts
        if got_lat is not None:
            lats.append(got_lat)
    lats.sort()
    n = len(lats)
    [row] = w.QUERIES["funnel_conversion_latency"](spark, SF_SMOKE).collect()
    assert row["n_converters"] == n
    assert row["min_lat_us"] == lats[0] and row["max_lat_us"] == lats[-1]
    assert row["p50_lat_us"] == lats[(n * 50 + 99) // 100 - 1]
    assert row["p90_lat_us"] == lats[(n * 90 + 99) // 100 - 1]
    assert row["mean_lat_us"] == sum(lats) // n
    assert (
        row["min_lat_us"] <= row["p50_lat_us"] <= row["p90_lat_us"]
        <= row["max_lat_us"]
    )
    funnel = {
        r["step"]: r["n_users"]
        for r in w.QUERIES["event_funnel"](spark, SF_SMOKE).collect()
    }
    assert n == funnel["click"]


def test_mad_outliers_match_pure_python_and_resist_masking(spark):
    """Independent reference: lower medians and MAD flags replayed in
    python. Masking law on crafted data: one enormous event makes the
    MEAN z-test miss it (it drags sigma up) while the MAD test flags
    it — the reason the robust twin exists."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    per = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "value"
    ).collect():
        per[r["user_id"]].append((int(round(r["value"] * 100)), r["event_id"]))

    def lower_median(pairs):  # pairs pre-sorted by (val, id)
        return pairs[(len(pairs) + 1) // 2 - 1][0]

    got = {
        r["user_id"]: (r["n_events"], r["median_c"], r["mad_c"], r["n_outliers"])
        for r in w.QUERIES["user_value_mad_outliers"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per)
    for user, vals in per.items():
        vals.sort()
        med = lower_median(vals)
        ads = sorted((abs(v - med), eid) for v, eid in vals)
        mad = lower_median(ads)
        n_out = sum(1 for ad, _ in ads if ad > 3 * mad)
        assert got[user] == (len(vals), med, mad, n_out), user
    # masking: 9 normal values + one 10000x spike
    base = [(100 + i, i) for i in range(9)] + [(1_000_000, 99)]
    vals = sorted(base)
    med = lower_median(vals)
    ads = sorted((abs(v - med), i) for v, i in vals)
    mad = lower_median(ads)
    assert sum(1 for ad, _ in ads if ad > 3 * mad) == 1  # MAD flags the spike
    xs = [v for v, _ in base]
    n, sx = len(xs), sum(xs)
    sxx = sum(x * x for x in xs)
    flagged = sum(
        1 for x in xs if (x * n - sx) ** 2 > 9 * (n * sxx - sx * sx)
    )
    assert flagged == 0  # the mean z-test (k=3) is masked by its own sigma


def test_forecast_interval_matches_pure_python_reference(spark):
    """Independent reference: spine, lags, the ⌈2n/3⌉ month cutoff,
    discrete residual quantiles and held-out coverage replayed in
    python. Laws: lo ≤ 0 ≤ hi (residual quantiles straddle zero for
    an unbiased-ish baseline on this corpus), n_covered ≤ n_eval, and
    coverage is the integral division of its own counters."""
    import math
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    cnat = {
        r["c_custkey"]: nat[r["c_nationkey"]]
        for r in load_table(spark, SF_SMOKE, "customer").collect()
    }
    rev = defaultdict(int)
    months = set()
    for r in load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    ).collect():
        m = f"{r['o_orderdate'].year:04d}-{r['o_orderdate'].month:02d}"
        months.add(m)
        rev[(cnat[r["o_custkey"]], m)] += int(math.floor(r["o_totalprice"] * 100))
    months = sorted(months)
    cutoff = months[(2 * len(months) + 2) // 3 - 1]
    rows = []  # (model, m, residual)
    for nation in set(nat.values()):
        series = [rev.get((nation, m)) for m in months]
        for i, m in enumerate(months):
            a = series[i]
            if a is None:
                continue
            for model, lag in (("naive1", 1), ("snaive12", 12)):
                if i >= lag and series[i - lag] is not None:
                    rows.append((model, m, a - series[i - lag]))
    got = {
        r["model"]: r
        for r in w.QUERIES["forecast_interval_coverage"](spark, SF_SMOKE).collect()
    }
    for model in ("naive1", "snaive12"):
        cal = sorted(r for mo, m, r in rows if mo == model and m <= cutoff)
        ev = [r for mo, m, r in rows if mo == model and m > cutoff]
        n = len(cal)
        lo = cal[(n * 10 + 99) // 100 - 1]
        hi = cal[(n * 90 + 99) // 100 - 1]
        cov = sum(1 for r in ev if lo <= r <= hi)
        g = got[model]
        assert (g["n_cal"], g["n_eval"], g["lo_c"], g["hi_c"]) == (
            n, len(ev), lo, hi,
        ), model
        assert g["n_covered"] == cov
        assert g["coverage_u6"] == cov * 1000000 // len(ev)
        assert g["lo_c"] <= 0 <= g["hi_c"]
        assert g["n_covered"] <= g["n_eval"]


def test_assortativity_matches_pure_python_reference(spark):
    """Independent reference: support-pruned graph rebuilt in python,
    symmetrized-endpoint-degree Pearson via big-int arithmetic (the
    sqrt cancels because the marginals coincide). Laws: |r| ≤ 10⁶;
    a crafted star graph scores exactly -10⁶ (perfect disassortative
    mixing)."""
    from collections import Counter, defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table
    from hubsit_health_analytics_etl_spark.workloads.w14_graph import (
        TRI_MIN_SUPPORT,
    )

    op = {
        (r["l_orderkey"], r["l_partkey"])
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .collect()
    }
    by_order = defaultdict(set)
    for ok, pk in op:
        by_order[ok].add(pk)
    support = Counter()
    for parts in by_order.values():
        parts = sorted(parts)
        for i, u in enumerate(parts):
            for v in parts[i + 1 :]:
                support[(u, v)] += 1
    edges = [(u, v) for (u, v), c in support.items() if c >= TRI_MIN_SUPPORT]

    def assort_u6(edge_list):
        deg = Counter()
        for u, v in edge_list:
            deg[u] += 1
            deg[v] += 1
        pts = [(deg[u], deg[v]) for u, v in edge_list]
        pts += [(y, x) for x, y in pts]
        m = len(pts)
        sx = sum(x for x, _ in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        num, den = m * sxy - sx * sx, m * sxx - sx * sx
        q = abs(num) * 1000000 // abs(den)
        return (q if (num >= 0) == (den >= 0) else -q), len(deg), m // 2

    want_r, n_nodes, n_edges = assort_u6(edges)
    [row] = w.QUERIES["copurchase_assortativity"](spark, SF_SMOKE).collect()
    assert (row["n_nodes"], row["n_edges"]) == (n_nodes, n_edges)
    assert row["assortativity_u6"] == want_r
    assert -1000000 <= row["assortativity_u6"] <= 1000000
    star, _, _ = assort_u6([(0, i) for i in range(1, 6)])
    assert star == -1000000


def test_lorenz_deciles_consistent_with_gini(spark):
    """Cross-query laws against nation_revenue_gini over the SAME
    population: per nation the deciles' n_cust sums to n_cust and
    rev_c to total_rev_c; cum_share is monotone ending at 10⁶ within
    truncation; the top decile's share equals the Gini query's
    top_decile_u6 wherever the decile split lands on the same cut
    (n divisible by 10 — NTILE's first-buckets-bigger rule vs the
    Gini query's ceil rule coincide there)."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w

    gini = {
        r["nation"]: r
        for r in w.QUERIES["nation_revenue_gini"](spark, SF_SMOKE).collect()
    }
    per = defaultdict(list)
    for r in w.QUERIES["nation_lorenz_deciles"](spark, SF_SMOKE).collect():
        per[r["nation"]].append(r)
    assert set(per) == set(gini)
    for nation, rows in per.items():
        rows.sort(key=lambda r: r["decile"])
        # NTILE emits min(10, n) buckets — tiny nations have fewer rows
        k = min(10, gini[nation]["n_cust"])
        assert [r["decile"] for r in rows] == list(range(1, k + 1))
        assert sum(r["n_cust"] for r in rows) == gini[nation]["n_cust"]
        assert sum(r["rev_c"] for r in rows) == gini[nation]["total_rev_c"]
        shares = [r["cum_share_u6"] for r in rows]
        assert all(a <= b for a, b in zip(shares, shares[1:]))
        assert 1000000 - 10 <= shares[-1] <= 1000000
        if gini[nation]["n_cust"] % 10 == 0:
            assert rows[-1]["share_u6"] == gini[nation]["top_decile_u6"]


def test_elasticity_matches_pure_python_reference(spark):
    """Independent reference: per-type big-int OLS replayed from the
    joined rows; degenerate (zero x-variance) groups must be absent."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    ptype = {
        r["p_partkey"]: r["p_type"]
        for r in load_table(spark, SF_SMOKE, "part").collect()
    }
    per = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    ).collect():
        per[ptype[r["l_partkey"]]].append(
            (int(round(r["l_discount"] * 100)), int(r["l_quantity"]))
        )

    def trunc_div(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    got = {
        r["ptype"]: r
        for r in w.QUERIES["discount_quantity_elasticity"](spark, SF_SMOKE).collect()
    }
    for t, pts in per.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        den = n * sxx - sx * sx
        if den == 0:
            assert t not in got
            continue
        num = n * sxy - sx * sy
        r = got[t]
        assert r["n_items"] == n
        assert r["slope_u6"] == trunc_div(num * 1000000, den)
        assert r["intercept_u6"] == trunc_div(sy * den - num * sx, n * den)
    assert set(got) <= set(per)


def test_bounce_rate_consistent_with_sessions(spark):
    """Cross-query law: bounce counts recomputed from session_30m's
    own output (n_eventos == 1, day = session_start date) must match
    day-for-day; rates are the integral division of their counters."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w

    per = defaultdict(lambda: [0, 0])
    for r in w.QUERIES["session_30m"](spark, SF_SMOKE).collect():
        day = r["session_start"][:10]
        per[day][0] += 1
        per[day][1] += int(r["n_eventos"] == 1)
    got = {
        r["day"]: (r["n_sessions"], r["n_bounces"], r["bounce_u6"])
        for r in w.QUERIES["daily_bounce_rate"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(per)
    for day, (n, b) in per.items():
        assert got[day] == (n, b, b * 1000000 // n), day


def test_dow_seasonality_matches_pure_python_reference(spark):
    """Independent reference: weekday() from python's calendar (Monday
    = 0, the same convention the anchor-Monday datediff produces),
    shares and the ×7 index recomputed with integer division; indexes
    average to 10⁶ within truncation."""
    import math
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    agg = defaultdict(lambda: [0, 0])
    for r in load_table(spark, SF_SMOKE, "orders").select(
        "o_orderdate", "o_totalprice"
    ).collect():
        d = r["o_orderdate"]
        d = d.date() if hasattr(d, "date") else d
        a = agg[d.weekday()]
        a[0] += 1
        a[1] += int(math.floor(r["o_totalprice"] * 100))
    tot = sum(v[1] for v in agg.values())
    got = {
        r["dow"]: r
        for r in w.QUERIES["dow_revenue_seasonality"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(agg)
    names = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    for dow, (n, rc) in agg.items():
        r = got[dow]
        assert (r["dow_name"], r["n_orders"], r["rev_c"]) == (names[dow], n, rc)
        assert r["share_u6"] == rc * 1000000 // tot
        assert r["index_u6"] == rc * 7000000 // tot
    mean_idx = sum(r["index_u6"] for r in got.values()) // len(got)
    assert abs(mean_idx - 1000000) < 10


def test_scd2_point_in_time_conserves_every_lineitem(spark):
    """Conservation law: every lineitem whose ship date is at or
    after its customer's first segment start matches EXACTLY one
    segment (facts predating the history drop — the unknown-member
    case this fixture's synthetic ship dates exercise); per-priority
    rows recomputed in python from the SCD2 history query's own
    output, and the matched count reconciles to |lineitem| minus the
    pre-history facts."""
    import bisect
    import math
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    segs = defaultdict(list)  # custkey -> sorted [(valid_from, priority)]
    for r in w.QUERIES["scd2_priority_history"](spark, SF_SMOKE).collect():
        segs[r["o_custkey"]].append((r["valid_from"], r["priority"]))
    for v in segs.values():
        v.sort()
    ocust = {
        r["o_orderkey"]: r["o_custkey"]
        for r in load_table(spark, SF_SMOKE, "orders").collect()
    }
    want = defaultdict(lambda: [0, 0, 0])
    n_li = n_early = 0
    for r in load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    ).collect():
        n_li += 1
        ck = ocust[r["l_orderkey"]]
        d = r["l_shipdate"]
        d = d.date() if hasattr(d, "date") else d
        ds = str(d)
        starts = [vf for vf, _ in segs[ck]]
        i = bisect.bisect_right(starts, ds) - 1
        if i < 0:
            n_early += 1  # shipped before the customer's first segment
            continue
        pri = segs[ck][i][1]
        a = want[pri]
        a[0] += 1
        a[1] += int(r["l_quantity"])
        a[2] += int(math.floor(r["l_extendedprice"] * 100))
    got = {
        r["priority_at_ship"]: (r["n_items"], r["total_qty"], r["total_price_c"])
        for r in w.QUERIES["scd2_point_in_time_shipments"](spark, SF_SMOKE).collect()
    }
    assert got == {k: tuple(v) for k, v in want.items()}
    assert sum(v[0] for v in got.values()) == n_li - n_early
    assert n_early < n_li // 2  # most facts postdate their history


def test_interarrival_matches_pure_python_reference(spark):
    """Independent reference: per-customer date-sorted gaps, grouped
    per segment, discrete percentiles at rank ⌈p·n⌉. Laws: min ≤ p50
    ≤ p90 ≤ max; gap count per segment = orders in segment − buying
    customers in segment (one lag hole per customer)."""
    from collections import defaultdict

    from hubsit_health_analytics_etl_spark import workload as w
    from hubsit_health_analytics_etl_spark.sources.parquet import load_table

    seg_of = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load_table(spark, SF_SMOKE, "customer").collect()
    }
    per_cust = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    ).collect():
        d = r["o_orderdate"]
        d = d.date() if hasattr(d, "date") else d
        per_cust[r["o_custkey"]].append((d, r["o_orderkey"]))
    gaps = defaultdict(list)
    n_orders = defaultdict(int)
    for ck, ds in per_cust.items():
        ds.sort()
        n_orders[seg_of[ck]] += len(ds)
        for (a, _), (b, _) in zip(ds, ds[1:]):
            gaps[seg_of[ck]].append((b - a).days)
    got = {
        r["segment"]: r
        for r in w.QUERIES["segment_order_interarrival"](spark, SF_SMOKE).collect()
    }
    assert set(got) == set(gaps)
    buyers = defaultdict(int)
    for ck in per_cust:
        buyers[seg_of[ck]] += 1
    for seg, gs in gaps.items():
        gs.sort()
        n = len(gs)
        r = got[seg]
        assert r["n_gaps"] == n == n_orders[seg] - buyers[seg]
        assert r["min_gap_d"] == gs[0] and r["max_gap_d"] == gs[-1]
        assert r["p50_gap_d"] == gs[(n * 50 + 99) // 100 - 1]
        assert r["p90_gap_d"] == gs[(n * 90 + 99) // 100 - 1]
        assert r["mean_gap_d"] == sum(gs) // n
        assert (
            r["min_gap_d"] <= r["p50_gap_d"] <= r["p90_gap_d"]
            <= r["max_gap_d"]
        )


@pytest.mark.slow
def test_scrub_splice_shuffle_fallback_equals_broadcast(spark, monkeypatch):
    """The holder-broadcast skew guard (ADVICE r16 medium): forcing
    SPLICE_HOLDER_BCAST_CAP to 0 demotes every holder-bounded
    broadcast in the scrub splice to a shuffle join — the full
    llm_dataset_new_batch dump must be row-identical to the broadcast
    fast path (splice ≡ rebuild is already oracle-pinned; this pins
    fallback ≡ fast path)."""
    import hubsit_health_analytics_etl_spark.workloads.w18_dataset_increment as w18
    from hubsit_health_analytics_etl_spark.workload import QUERIES
    from tests.conftest import SF_SMOKE

    def rows():
        return sorted(
            map(tuple, QUERIES["llm_dataset_new_batch"](
                spark, SF_SMOKE
            ).collect())
        )

    fast = rows()
    monkeypatch.setattr(w18, "SPLICE_HOLDER_BCAST_CAP", 0)
    assert rows() == fast and len(fast) > 0
