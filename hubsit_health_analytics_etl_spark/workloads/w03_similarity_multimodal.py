"""Embedding similarity + int8 quantization, multimodal plumbing, skew-safe agg, JSON ops, sessionization windows, exact percentiles, ROLLUP, parse round-trips, embedding near-dup.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------
_COS_SQL = (
    "list_dot_product(q.qv, e.v) / "
    "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))"
)


@query(
    "ann_bruteforce_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {ANN_QUERY_LIMIT}),
    p AS (SELECT q.query_id, e.vec_id AS neighbor_id, ROUND({_COS_SQL}, 9) AS cosine
          FROM q JOIN e ON e.vec_id <> q.query_id),
    r AS (SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM p)
    SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rank
    FROM r WHERE rank <= {ANN_K}
    """,
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT), ANN_K)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@query(
    "ann_lsh_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {sql_lsh_bucket("embedding")} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < {ANN_QUERY_LIMIT}),
    p AS (SELECT q.query_id, q.bucket, e.vec_id AS neighbor_id, ROUND({_COS_SQL}, 9) AS cosine
          FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
    r AS (SELECT query_id, bucket, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM p)
    SELECT query_id, bucket, neighbor_id, ROUND(cosine, 6) AS cosine, rank
    FROM r WHERE rank <= {ANN_K}
    """,
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: literal seeded hyperplanes shared with
    the oracle; search space = same-bucket vectors only (≈ N/16)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(emb, ANN_K, query_filter=F.col("vec_id") < ANN_QUERY_LIMIT)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@query(
    "embedding_lsh_buckets",
    f"""
    SELECT {sql_lsh_bucket("embedding")} AS bucket,
           COUNT(*)::BIGINT AS n_vecs,
           MIN(vec_id)::BIGINT AS min_vec_id
    FROM embeddings GROUP BY bucket
    """,
)
def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_bucket_expr

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(lsh_bucket_expr("embedding").alias("bucket"), "vec_id")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization: the STORAGE lever for 100 TB vector
# corpora — 4x smaller than float32 (64 dims: 256 B -> 64 B + 2
# floats), reconstruction error bounded by scale/2 per dim. Per-vector
# min/max affine quantization, all Catalyst array expressions
# (map-only); the oracle replicates the arithmetic bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "embedding_quantize",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    mm AS (SELECT vec_id, v, list_min(v) AS mn,
                  (list_max(v) - list_min(v)) / 255.0 AS scale
           FROM e),
    q AS (SELECT vec_id, mn, scale,
                 list_transform(v, x -> CAST(round((x - mn) / scale) AS BIGINT))
                   AS q8
          FROM mm)
    SELECT vec_id,
           ROUND(mn, 6) AS mn,
           ROUND(scale, 9) AS scale,
           md5(array_to_string(q8, ',')) AS q8_sig,
           list_min(q8)::BIGINT AS q_min,
           list_max(q8)::BIGINT AS q_max
    FROM q
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization (codes 0..255): stores mn +
    scale + one byte per dim. Map-only; the md5 signature of the code
    array proves the exact codes match DuckDB (same IEEE double
    arithmetic on both engines), and q_min/q_max pin the code range.
    Dequantize is mn + q*scale with max error scale/2 per dim."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = "cast(embedding as array<double>)"
    mm = spread(emb).select(
        "vec_id",
        F.expr(f"{v}").alias("v"),
        F.expr(f"array_min({v})").alias("mn"),
        F.expr(f"(array_max({v}) - array_min({v})) / 255.0d").alias("scale"),
    )
    q = mm.select(
        "vec_id",
        "mn",
        "scale",
        F.expr("transform(v, x -> cast(round((x - mn) / scale) as bigint))").alias("q8"),
    )
    return q.select(
        "vec_id",
        F.round("mn", 6).alias("mn"),
        F.round("scale", 9).alias("scale"),
        F.md5(F.concat_ws(",", F.col("q8").cast("array<string>"))).alias("q8_sig"),
        F.expr("array_min(q8)").alias("q_min"),
        F.expr("array_max(q8)").alias("q_max"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas). The runtime path is Arrow-batched
# Python, but the STUB kernel is sha256 + byte length of a UTF-8
# payload — fully expressible in DuckDB, so even the mapInPandas
# plumbing is hash-checked end-to-end (a real image decoder would
# drop back to a rows-only check).
# ---------------------------------------------------------------------------
@query(
    "media_features",
    """
    SELECT doc_id AS media_id,
           (['image', 'audio', 'video'])[(doc_id % 3)::INT + 1] AS kind,
           octet_length(encode(text))::BIGINT AS n_bytes,
           sha256(text) AS payload_sha,
           CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) AS feat_0,
           CAST('0x' || substr(sha256(text), 9, 8) AS BIGINT) AS feat_1
    FROM documents
    """,
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(documents_as_media(docs))


@query(
    "image_resize_dims",
    """
    WITH img AS (SELECT doc_id AS media_id, text FROM documents
                 WHERE doc_id % 3 = 0),
    src AS (SELECT media_id, text,
                   64 + (CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 192) AS w0,
                   64 + (CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 192) AS h0
            FROM img)
    SELECT media_id,
           FLOOR(w0 * (224.0 / greatest(w0, h0)) + 0.5)::INT AS width,
           FLOOR(h0 * (224.0 / greatest(w0, h0)) + 0.5)::INT AS height,
           (32 + least(octet_length(encode(text)), 64))::BIGINT AS n_bytes
    FROM src
    """,
)
def q_image_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing, hash-checked: the stub dims (sha-derived source
    size, half-up scaled to max_side=224) and the resized payload
    length (32-byte sha tag + ≤64 original bytes) replicate in DuckDB,
    so the Arrow kernel's arithmetic is oracle-pinned like the other
    mapInPandas paths."""
    from ..operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    out = resize_images(documents_as_media(docs), max_side=224)
    return out.select(
        "media_id",
        "width",
        "height",
        F.length("payload").cast("bigint").alias("n_bytes"),
    )


@query(
    "video_frame_samples",
    """
    WITH vids AS (SELECT doc_id AS media_id, text,
                         greatest(least(octet_length(encode(text)) // 256, 8), 1)
                           AS n_frames
                  FROM documents WHERE doc_id % 3 = 2),
    frames AS (SELECT media_id, text, unnest(range(0, n_frames, 2)) AS frame_idx
               FROM vids)
    SELECT media_id,
           frame_idx::INT AS frame_idx,
           (frame_idx * 40)::INT AS ts_ms,
           sha256(text || CAST(frame_idx AS VARCHAR)) AS frame_sha
    FROM frames
    """,
)
def q_video_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the video rows: every video payload fans out
    into one row per sampled frame through the Arrow mapInPandas
    kernel — the stub frame hash is sha256(payload‖idx), so the 1→k
    Python fan-out is hash-checked end-to-end by DuckDB."""
    from ..operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(documents_as_media(docs), every_n=2, fps=25, max_frames=8)


@query(
    "audio_window_segments",
    """
    WITH auds AS (SELECT doc_id AS media_id, text,
                         greatest(least(octet_length(encode(text)) // 256, 8), 1)
                           AS n_win
                  FROM documents WHERE doc_id % 3 = 1),
    w AS (SELECT media_id, text, unnest(range(0, n_win)) AS window_idx
          FROM auds)
    SELECT media_id,
           window_idx::INT AS window_idx,
           (window_idx * 125)::INT AS start_ms,
           (window_idx * 125 + 250)::INT AS end_ms,
           sha256(text || 'w' || CAST(window_idx AS VARCHAR)) AS window_sha
    FROM w
    """,
)
def q_audio_window_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window segmentation over the audio rows (250 ms
    windows every 125 ms): the audio twin of the frame-sample query,
    same Arrow mapInPandas 1→k fan-out, stub window hash
    sha256(payload‖'w'‖idx) hash-checked by DuckDB. The kind filter
    sits under the Python stage so image/video bytes never cross the
    Arrow boundary."""
    from ..operators.multimodal import segment_audio

    docs = load_table(spark, sf_dir, "documents")
    return segment_audio(
        documents_as_media(docs), window_ms=250, hop_ms=125, max_windows=8
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation: two-phase salted groupBy on the hot event_type
# key. The oracle is the PLAIN single-phase GROUP BY — hash-matching it
# proves the salting is result-invariant (routing only), which is the
# entire contract of the operator.
# ---------------------------------------------------------------------------
@query(
    "salted_event_totals",
    """
    SELECT event_type,
           COUNT(*)::BIGINT AS n_eventos,
           ROUND(SUM(value), 2) AS valor_total,
           ROUND(MAX(value), 2) AS valor_max
    FROM events GROUP BY event_type
    """,
)
def q_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via operators.skew.salted_agg: the hot key
    spreads over 16 salt reducers (partial agg per salt), then the tiny
    per-salt partials merge in a second groupBy. Same answer as the
    plain GROUP BY, minus the single-reducer hot spot."""
    from ..operators.skew import salted_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        ["event_type"],
        {
            "n_eventos": ("sum", F.count(F.lit(1))),
            "valor_total": ("sum", F.sum("value")),
            "valor_max": ("max", F.max("value")),
        },
    )
    return out.select(
        "event_type",
        F.col("n_eventos").cast("bigint").alias("n_eventos"),
        F.round("valor_total", 2).alias("valor_total"),
        F.round("valor_max", 2).alias("valor_max"),
    )


HYPERPLANES_USED = HYPERPLANES  # re-export for tests


# ---------------------------------------------------------------------------
# JSON scalar ops over events.props (SURVEY.md §2.3 EXT note)
# ---------------------------------------------------------------------------
@query(
    "events_json_extract",
    """
    WITH e AS (SELECT event_type, value,
                      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
               FROM events)
    SELECT event_type,
           COUNT(*)::BIGINT AS n_eventos,
           ROUND(AVG(k), 4) AS k_medio,
           MAX(k)::INTEGER AS k_max,
           ROUND(SUM(CASE WHEN k > 50 THEN value ELSE 0 END), 2) AS valor_k_alto
    FROM e GROUP BY event_type
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the JSON-string props column — stays in
    codegen (Jackson on the JVM), no Python."""
    from ..operators.aggregate import sum_if

    events = load_table(spark, sf_dir, "events")
    e = events.withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.round(F.avg("k"), 4).alias("k_medio"),
        F.max("k").alias("k_max"),
        F.round(sum_if(F.col("value"), F.col("k") > 50), 2).alias("valor_k_alto"),
    )


# ---------------------------------------------------------------------------
# Window analytics: lag-based sessionization (ranking/lag/lead — absent
# in the reference, SURVEY.md §2.6 EXT)
# ---------------------------------------------------------------------------
@query(
    "user_session_stats",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events),
    g AS (SELECT user_id, ts,
                 FLOOR(EPOCH(ts)) - FLOOR(EPOCH(LAG(ts) OVER w)) AS gap_s,
                 CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT user_id, gap_s, new_s,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
    SELECT user_id,
           MAX(sid)::BIGINT AS n_sessions,
           CAST(MAX(cnt) AS BIGINT) AS longest_session_events,
           ROUND(AVG(CASE WHEN new_s = 0 THEN gap_s END), 2) AS avg_intra_gap_s
    FROM (SELECT user_id, gap_s, new_s, sid,
                 COUNT(*) OVER (PARTITION BY user_id, sid) AS cnt
          FROM s)
    GROUP BY user_id
    """,
)
def q_user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands with lag/row-count windows (the by-hand twin of
    F.session_window): per-user session counts, longest session, mean
    intra-session gap."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    g = events.select(
        "user_id",
        "ts",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                >= 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s = g.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    s = s.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("user_id", "sid")))
    return s.groupBy("user_id").agg(
        F.max("sid").alias("n_sessions"),
        F.max("cnt").alias("longest_session_events"),
        F.round(F.avg(F.when(F.col("new_s") == 0, F.col("gap_s"))), 2).alias(
            "avg_intra_gap_s"
        ),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (median/p90) — EXT §2.5 note
# ---------------------------------------------------------------------------
@query(
    "priority_price_percentiles",
    """
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS pedidos,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS mediana,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_priority_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`). The scale path swaps in
    `approx_percentile` (t-digest, one pass, mergeable) — asserted
    close in tests, not oracle-matched (sketches differ by engine)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("pedidos"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("mediana"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


# ---------------------------------------------------------------------------
# ROLLUP subtotals (EXT — reference's A3 is grouping-sets-shaped)
# ---------------------------------------------------------------------------
@query(
    "revenue_rollup",
    """
    SELECT COALESCE(r.r_name, '(all)') AS regiao,
           CASE WHEN GROUPING(n.n_name) = 1 THEN '(all)' ELSE n.n_name END AS nacao,
           COUNT(*)::BIGINT AS pedidos,
           ROUND(SUM(o.o_totalprice), 2) AS receita
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    rolled = base.rollup("r_name", "n_name").agg(
        F.grouping("n_name").alias("_g_n"),
        F.count(F.lit(1)).alias("pedidos"),
        F.round(F.sum("o_totalprice"), 2).alias("receita"),
    )
    return rolled.select(
        F.coalesce(F.col("r_name"), F.lit("(all)")).alias("regiao"),
        F.when(F.col("_g_n") == 1, F.lit("(all)")).otherwise(F.col("n_name")).alias("nacao"),
        "pedidos",
        "receita",
    )


# ---------------------------------------------------------------------------
# F4/F5 parse round-trips as an oracle query (messy strings synthesized
# from typed fixture columns, then parsed back by the engine builders)
# ---------------------------------------------------------------------------
@query(
    "parse_roundtrip",
    """
    WITH m AS (
      SELECT o_totalprice,
             'R$ ' || replace(CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS VARCHAR),
                              '.', ',') AS money_str,
             strftime(o_orderdate, '%d/%m/%Y %H:%M') AS date_str,
             o_orderdate
      FROM orders
    )
    SELECT COUNT(*)::BIGINT AS n,
           CAST(SUM(CASE WHEN ROUND(CAST(replace(replace(replace(
                  money_str, 'R$ ', ''), '.', ''), ',', '.') AS DOUBLE), 2)
                  = ROUND(o_totalprice, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_currency_ok,
           CAST(SUM(CASE WHEN strptime(date_str, '%d/%m/%Y %H:%M') = o_orderdate
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_date_ok
    FROM m
    """,
)
def q_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Currency (F4) and dayfirst-datetime (F5) parsers proven on
    synthesized 'R$ 1.234,56' / 'dd/MM/yyyy HH:mm' strings: parse back
    and count exact matches against the typed source column."""
    from ..functions.temporal import parse_dayfirst_timestamp
    from ..functions.text import currency_to_double

    orders = load_table(spark, sf_dir, "orders")
    m = orders.select(
        "o_totalprice",
        F.concat(
            F.lit("R$ "),
            F.replace(
                F.round("o_totalprice", 2).cast("decimal(18,2)").cast("string"),
                F.lit("."),
                F.lit(","),
            ),
        ).alias("money_str"),
        F.date_format("o_orderdate", "dd/MM/yyyy HH:mm").alias("date_str"),
        "o_orderdate",
    )
    return m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.round(currency_to_double("money_str"), 2) == F.round("o_totalprice", 2), 1
            ).otherwise(0)
        ).alias("n_currency_ok"),
        F.sum(
            F.when(parse_dayfirst_timestamp("date_str") == F.col("o_orderdate"), 1).otherwise(0)
        ).alias("n_date_ok"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: LSH-bucket-blocked nearest neighbor + threshold
# ---------------------------------------------------------------------------
NN_DUP_THRESHOLD = 0.45
# The blocking key MUST scale with the corpus: label cardinality is
# fixed (~10), so label blocks grow linearly and in-block pairs grow
# quadratically. Sign-LSH buckets scale by the planes knob —
# n_planes ≈ log2(N / target_block_size) keeps the expected block size
# constant as N grows. 6 planes = 64 buckets at fixture scale.
NN_DEDUP_PLANES = 6


def _nn_dedup_planes() -> list[list[float]]:
    from ..operators.similarity import _hyperplanes

    return _hyperplanes(NN_DEDUP_PLANES)


def _nn_oracle_cte() -> str:
    """Shared oracle CTE: in-bucket nearest neighbor per vector
    (embedding_nn_dedup and semantic_dedup_keep replicate the same
    blocking + scoring stage-for-stage)."""
    return f"""
    WITH e AS (SELECT vec_id, {sql_lsh_bucket("embedding", _nn_dedup_planes())} AS bucket,
                      embedding::DOUBLE[] AS v
               FROM embeddings),
    p AS (SELECT a.vec_id, a.bucket, b.vec_id AS nn_id,
                 ROUND(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 9) AS cosine
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT vec_id, bucket, nn_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY cosine DESC, nn_id) AS rn
          FROM p)"""


@query(
    "embedding_nn_dedup",
    _nn_oracle_cte()
    + f"""
    SELECT vec_id, bucket, nn_id, ROUND(cosine, 6) AS cosine,
           cosine >= {NN_DUP_THRESHOLD} AS is_dup
    FROM r WHERE rn = 1
    """,
)
def q_embedding_nn_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection: nearest neighbor within the
    vector's sign-LSH bucket, flagged against a cosine threshold.

    The block key is the 6-plane LSH bucket, not the ~10-value label:
    bucket count doubles per plane, so the expected block size (and
    the in-block pair explosion) is held constant at any corpus size
    by choosing n_planes ≈ log2(N / target_block_size). Vectors in
    singleton buckets emit no row — the honest LSH-recall semantics
    shared with ann_lsh_topk; the oracle replicates the literal
    hyperplanes, so the hash check covers the blocking too."""
    from pyspark.sql import Window

    from ..operators.similarity import dot_expr, lsh_bucket_expr, norm_expr

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        lsh_bucket_expr("embedding", _nn_dedup_planes()).alias("bucket"),
        norm_expr("embedding").alias("nrm"),
    )
    a = emb.select("vec_id", "bucket", F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    b = emb.select(
        F.col("vec_id").alias("nn_id"), F.col("bucket").alias("bk"),
        F.col("embedding").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, (F.col("bucket") == F.col("bk")) & (F.col("vec_id") != F.col("nn_id")))
    scored = pairs.select(
        "vec_id",
        "bucket",
        "nn_id",
        F.round(dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 9).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("nn_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "bucket",
            "nn_id",
            F.round("cosine", 6).alias("cosine"),
            (F.col("cosine") >= NN_DUP_THRESHOLD).alias("is_dup"),
        )
    )


