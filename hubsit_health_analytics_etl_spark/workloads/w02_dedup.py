"""Exact + MinHash-LSH dedup, incremental signature indexes, decontamination, containment, winnowing, span dedup, SimHash.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

from ._shared import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "exact_dedup",
    """
    SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
           MIN(doc_id)::BIGINT AS doc_id,
           COUNT(*)::BIGINT AS n_copies
    FROM documents GROUP BY fp
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


def _sql_shingles(text: str = "text", k: int = 3) -> str:
    toks = f"string_split(lower({text}), ' ')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string({toks}[i:i+{k - 1}], ' ')))"
    )


def _minhash_pairs_ctes(
    bucket_cap: int | None = MINHASH_BUCKET_CAP, src: str = "documents"
) -> str:
    """CTE chain replicating ``minhash_candidates`` in its production
    configuration (pre-exact-dedup representatives + bucket cap) —
    ends with a ``mh_pairs(doc_a, doc_b, jaccard)`` CTE.  Shared by the
    minhash_lsh_pairs / dedup_clusters / dedup_clusters_new_batch
    oracles; ``bucket_cap=None`` disables capping (the uncapped
    incremental-clusters contract); ``src`` swaps the corpus relation
    (e.g. a filtered CTE for the forget-flow oracle)."""
    cap_clause = "" if bucket_cap is None else f" AND COUNT(*) <= {bucket_cap}"
    sig_cols = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME})) AS mh_{j}"
        for j, (a, b) in enumerate(MINHASH_AB[:N_MINHASH])
    )

    def band_key(b: int) -> str:
        expr = f"mh_{b * BAND_ROWS}"
        for r in range(1, BAND_ROWS):
            expr = f"({expr} * {BAND_MIX} + mh_{b * BAND_ROWS + r})"
        return expr

    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, {band_key(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
    rep AS (SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
            FROM {src}
            GROUP BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))),
    sh AS (SELECT doc_id, {_sql_shingles()} AS sh FROM rep),
    hs AS (SELECT doc_id, sh,
                  list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
           FROM sh),
    sig AS (SELECT doc_id, sh, {sig_cols} FROM hs),
    bands AS ({band_selects}),
    bucket_ok AS (SELECT band_idx, band_key FROM bands
                  GROUP BY band_idx, band_key
                  HAVING COUNT(*) > 1{cap_clause}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a
             JOIN bucket_ok o
               ON a.band_idx = o.band_idx AND a.band_key = o.band_key
             JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             WHERE a.doc_id < b.doc_id),
    mh_pairs AS (SELECT c.doc_a, c.doc_b,
                        ROUND(len(list_intersect(x.sh, y.sh))
                              / CAST(len(list_distinct(x.sh || y.sh)) AS DOUBLE), 6)
                          AS jaccard
                 FROM cand c
                 JOIN sh x ON c.doc_a = x.doc_id
                 JOIN sh y ON c.doc_b = y.doc_id)
    """


@query(
    "minhash_lsh_pairs",
    f"WITH {_minhash_pairs_ctes()} SELECT doc_a, doc_b, jaccard FROM mh_pairs",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs with exact Jaccard — the oracle
    replicates signature, banding and verification exactly (md5-string
    minhash is engine-portable), INCLUDING the scale guards: exact
    duplicates collapse to a min-id representative before signatures,
    and band buckets over MINHASH_BUCKET_CAP members are dropped."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs a PERSISTED signature index. The
# 100 TB shape — the corpus is signed once (parquet index); each new
# batch is signed map-only and probed against the postings, never
# re-shingling old documents. Oracle = the full-corpus LSH pair set
# (no pre-dedup, union-bucket cap) restricted to pairs touching the
# batch — the literal statement of incremental == batch equivalence.
# ---------------------------------------------------------------------------
NEW_BATCH_PCT = 10  # doc_id hash bucket < 10 → the "new" slice


@functools.cache
def _run_root() -> str:
    """Process-scoped parent of every run-scoped dir, removed at exit."""
    root = tempfile.mkdtemp(prefix="hubsit_run_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _run_scoped_index_dir(kind: str) -> str:
    """A fresh, run-private directory (under ``_run_root``) for a
    persisted-index query. Unique per CALL, so concurrent drivers never
    race overwrite-vs-read on the same index files. A real pipeline
    passes its own long-lived index path instead; these queries
    re-BUILD the index inside the timed query to measure that
    write+probe round-trip."""
    return tempfile.mkdtemp(prefix=f"hubsit_{kind}_", dir=_run_root())


def _incremental_dedup_oracle() -> str:
    sig_cols = ", ".join(
        f"list_min(list_transform(h32, h -> ({a} * h + {b}) % {MINHASH_PRIME})) AS mh_{j}"
        for j, (a, b) in enumerate(MINHASH_AB[:N_MINHASH])
    )

    def band_key(b: int) -> str:
        expr = f"mh_{b * BAND_ROWS}"
        for r in range(1, BAND_ROWS):
            expr = f"({expr} * {BAND_MIX} + mh_{b * BAND_ROWS + r})"
        return expr

    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, is_new, {b} AS band_idx, {band_key(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    from ..operators.sampling import sql_hash_bucket

    return f"""
    WITH sh0 AS (SELECT doc_id, {_sql_shingles()} AS sh,
                        ({sql_hash_bucket("doc_id")} < {NEW_BATCH_PCT}) AS is_new
                 FROM documents),
    h32 AS (SELECT doc_id, is_new, sh,
                   list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h32
            FROM sh0),
    sig AS (SELECT doc_id, is_new, {sig_cols} FROM h32),
    bands AS ({band_selects}),
    bucket_ok AS (SELECT band_idx, band_key FROM bands
                  GROUP BY band_idx, band_key
                  HAVING COUNT(*) > 1 AND COUNT(*) <= {MINHASH_BUCKET_CAP}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a
             JOIN bucket_ok o
               ON a.band_idx = o.band_idx AND a.band_key = o.band_key
             JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             WHERE a.doc_id < b.doc_id AND (a.is_new OR b.is_new)),
    h60 AS (SELECT doc_id,
                   list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs
            FROM sh0)
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(x.hs, y.hs))
                 / CAST(len(list_distinct(x.hs || y.hs)) AS DOUBLE), 6) AS jaccard
    FROM cand c
    JOIN h60 x ON c.doc_a = x.doc_id
    JOIN h60 y ON c.doc_b = y.doc_id
    """


@query("dedup_new_batch", _incremental_dedup_oracle())
def q_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup end-to-end: sign the 90% "corpus" slice, WRITE
    the signature index to parquet, read it back, and dedup the 10%
    "new batch" against it — old documents are never re-shingled. The
    oracle computes the full-corpus pair set restricted to the batch,
    so the hash match proves incremental == full recompute."""
    import os

    from ..operators.dedup import (
        incremental_minhash_candidates,
        minhash_signature_index,
    )
    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    base = _run_scoped_index_dir("sig_index")
    bands, shingles = minhash_signature_index(corpus)
    write_parquet(bands, os.path.join(base, "bands"))
    write_parquet(shingles, os.path.join(base, "shingles"))
    index_bands = spark.read.parquet(os.path.join(base, "bands"))
    index_shingles = spark.read.parquet(os.path.join(base, "shingles"))
    return incremental_minhash_candidates(
        batch, index_bands, index_shingles, bucket_cap=MINHASH_BUCKET_CAP
    )


# ---------------------------------------------------------------------------
# Incremental EXACT dedup: the highest-volume ingest operation — a new
# batch assigned to exact-duplicate representatives against a
# persisted fingerprint index; the corpus is never re-fingerprinted.
# ---------------------------------------------------------------------------
def _exact_incremental_oracle() -> str:
    from ..operators.sampling import sql_hash_bucket

    return f"""
    WITH fp AS (SELECT doc_id,
                       md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
                       ({sql_hash_bucket("doc_id")} < {NEW_BATCH_PCT}) AS is_new
                FROM documents),
    rep AS (SELECT fp, MIN(doc_id) AS rep FROM fp GROUP BY fp)
    SELECT p.doc_id,
           r.rep::BIGINT AS rep_id,
           (p.doc_id = r.rep)::BIGINT AS is_keeper
    FROM fp p JOIN rep r USING (fp)
    WHERE p.is_new
    """


@query("exact_dedup_new_batch", _exact_incremental_oracle())
def q_exact_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup end-to-end: fingerprint the 90% corpus
    slice ONCE into a parquet index, read it back, and assign the 10%
    batch to representatives — one map-only fingerprint pass over the
    batch plus one equi-join. The oracle is the full-corpus min-id
    assignment restricted to the batch, so the hash match proves
    incremental == full recompute."""
    import os

    from ..operators.dedup import (
        exact_fingerprint_index,
        incremental_exact_dedup,
    )
    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)
    base = _run_scoped_index_dir("fp_index")
    write_parquet(exact_fingerprint_index(corpus), os.path.join(base, "fp"))
    index = spark.read.parquet(os.path.join(base, "fp"))
    return incremental_exact_dedup(batch, index)


# ---------------------------------------------------------------------------
# Benchmark decontamination: corpus docs sharing k-token grams with a
# held-out eval slice. The hash split stands in for a real benchmark
# table; the operator takes any (doc_id, text) benchmark DataFrame.
# ---------------------------------------------------------------------------
DECON_K, DECON_EVAL_PCT, DECON_DF_CAP = 4, 5, 50


def _decon_ctes() -> str:
    """CTE chain replicating the n-gram decontamination probe — ends
    with ``dhits(doc_id, g, eval_id)``; CTE names are prefixed (dsplit,
    dkeep, …) so the chain composes into the curation-pipeline oracle
    without colliding with the quality / MinHash chains."""
    from ..operators.sampling import sql_hash_bucket

    return f"""
    dsplit AS (SELECT doc_id, text,
                      ({sql_hash_bucket("doc_id", salt="eval")} < {DECON_EVAL_PCT})
                        AS is_eval
               FROM documents),
    cg AS (SELECT doc_id,
                  unnest(list_transform({_sql_shingles("text", DECON_K)},
                                        s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))
                    AS g
           FROM dsplit WHERE NOT is_eval),
    dkeep AS (SELECT g FROM cg GROUP BY g HAVING COUNT(*) <= {DECON_DF_CAP}),
    cg2 AS (SELECT cg.doc_id, cg.g FROM cg JOIN dkeep USING (g)),
    bg AS (SELECT doc_id AS eval_id,
                  unnest(list_transform({_sql_shingles("text", DECON_K)},
                                        s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))
                    AS g
           FROM dsplit WHERE is_eval),
    dhits AS (SELECT cg2.doc_id, cg2.g, bg.eval_id FROM cg2 JOIN bg ON cg2.g = bg.g)
    """


def _decontamination_oracle() -> str:
    return f"""
    WITH {_decon_ctes()}
    SELECT doc_id,
           COUNT(DISTINCT g)::BIGINT AS n_shared_grams,
           COUNT(DISTINCT eval_id)::BIGINT AS n_eval_docs_hit
    FROM dhits GROUP BY doc_id
    """


@query("benchmark_decontamination", _decontamination_oracle())
def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination report: corpus docs sharing ≥1 4-token gram
    with the 5% held-out "benchmark" slice (df-capped against
    boilerplate grams). Gram extraction is map-only on both sides; the
    small benchmark gram set broadcasts, so the corpus discovers hits
    without shuffling — only the hit set aggregates."""
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    is_eval = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
    corpus, benchmark = docs.filter(~is_eval), docs.filter(is_eval)
    return contamination_report(
        corpus, benchmark, k=DECON_K, df_cap=DECON_DF_CAP
    )


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS (SELECT doc_id,
                       list_transform({_sql_shingles()},
                                      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS sh
                FROM documents),
    inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                     COUNT(*) AS n_inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.n, b.n)
    SELECT doc_a, doc_b,
           ROUND(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter
    WHERE ROUND(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive exact n-gram Jaccard ≥ 0.3 via shared-shingle
    inverted index — ground truth for the LSH path."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# Asymmetric containment: the near-dup relation Jaccard misses. A doc
# quoted or embedded inside a much larger one has Jaccard ~ 0 but
# containment ~ 1 — the wrapper-page / quote-inclusion case curation
# hunts. Directed pairs from ONE undirected intersection pass;
# containment in exact integer micro-units (small-denominator
# rationals land ON 6dp round-half boundaries, e.g. 1/640).
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD_U6 = 600_000


@query(
    "ngram_containment_pairs",
    f"""
    WITH sh AS (SELECT doc_id,
                       list_transform({_sql_shingles()},
                                      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS sh
                FROM documents),
    inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
                     COUNT(*)::BIGINT AS n_inter
              FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id, a.n, b.n),
    d AS (SELECT doc_a AS src_id, doc_b AS dst_id, na AS n_src, n_inter FROM inter
          UNION ALL
          SELECT doc_b AS src_id, doc_a AS dst_id, nb AS n_src, n_inter FROM inter)
    SELECT src_id, dst_id, n_inter,
           (n_inter * 1000000 // n_src)::BIGINT AS containment_u6
    FROM d
    WHERE n_inter * 1000000 // n_src >= {CONTAINMENT_THRESHOLD_U6}
    """,
)
def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.py::ngram_containment_pairs at threshold 0.6 —
    directed (src_id, dst_id, n_inter, containment_u6) where ≥60% of
    src's distinct shingles appear in dst. Same inverted-index /
    df-cap scale machinery as the exact-Jaccard path (one shared
    intersection pass scores both directions); oracle rebuilds the
    index and both directions from scratch."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, CONTAINMENT_THRESHOLD_U6)


# ---------------------------------------------------------------------------
# Containment at INGEST: the dedup-before-accept question ("is this
# incoming doc already inside something we hold?") answered against
# the PERSISTED shingle index — the batch is shingled map-only, the
# corpus is never re-read. Shares the 90%-corpus index fixture with
# the incremental-cluster queries (PREPARES); oracle = full recompute
# restricted to (batch → corpus) pairs, so the hash match proves
# incremental == from-scratch.
# ---------------------------------------------------------------------------
def _containment_new_batch_oracle() -> str:
    from ..operators.sampling import sql_hash_bucket

    return f"""
    WITH sh AS (SELECT doc_id,
                       {sql_hash_bucket("doc_id")} < {NEW_BATCH_PCT} AS is_new,
                       list_transform({_sql_shingles()},
                                      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS sh
                FROM documents),
    b AS (SELECT doc_id, len(sh) AS n_new, unnest(sh) AS s FROM sh WHERE is_new),
    c AS (SELECT doc_id AS contained_in, unnest(sh) AS s FROM sh WHERE NOT is_new),
    inter AS (SELECT b.doc_id, c.contained_in, b.n_new, COUNT(*)::BIGINT AS n_inter
              FROM b JOIN c USING (s)
              GROUP BY b.doc_id, c.contained_in, b.n_new)
    SELECT doc_id, contained_in, n_inter,
           (n_inter * 1000000 // n_new)::BIGINT AS containment_u6
    FROM inter
    WHERE n_inter * 1000000 // n_new >= {CONTAINMENT_THRESHOLD_U6}
    """


@query("containment_new_batch", _containment_new_batch_oracle())
def q_containment_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.py::incremental_containment over the persisted
    90%-corpus shingle index (shared PREPARES fixture): each new-batch
    doc reporting every corpus doc that already contains ≥60% of its
    shingles. No LSH pre-filter BY DESIGN (banding keys on Jaccard,
    blind to the embedded-doc case); the scale lever is the exploded,
    hash-bucketed postings layout. Oracle shingles both sides from
    scratch — incremental == full recompute, hash-proved."""
    from ..operators.dedup import incremental_containment
    from ..operators.sampling import hash_bucket

    # lazy: defined in w07 (imports after this module); call-time resolve
    from .w07_cluster_maintenance import _prepare_cluster_merge_index

    from ..sources.parquet import read_parquet_immutable

    paths = _prepare_cluster_merge_index(spark, sf_dir)
    shingles = read_parquet_immutable(spark, paths["shingles"])
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(hash_bucket("doc_id") < NEW_BATCH_PCT)
    return incremental_containment(batch, shingles, CONTAINMENT_THRESHOLD_U6)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD 2003): rolling
# window of k-gram hashes, min per window. K=4-token grams, W=8
# windows — shared runs of ≥ 11 tokens always collide.
# ---------------------------------------------------------------------------
K_WINNOW, W_WINNOW = 4, 8
WINNOW_MIN_SHARED, WINNOW_DF_CAP = 2, 50


def _sql_winnow_fps() -> str:
    """DuckDB twin of operators.textanalysis.winnowed_fingerprints:
    (doc_id, fps list<bigint>)."""
    toks = "string_split(lower(text), ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {K_WINNOW - 1}, 1) + 1), "
        f"i -> array_to_string(({toks})[i:i+{K_WINNOW - 1}], ' '))"
    )
    return f"""
    SELECT doc_id,
           list_sort(list_distinct(list_transform(
               range(1, greatest(len(hs) - {W_WINNOW - 1}, 1) + 1),
               i -> list_min(hs[i:i+{W_WINNOW - 1}])))) AS fps
    FROM (SELECT doc_id,
                 list_transform({grams},
                                g -> CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)) AS hs
          FROM documents)
    """


@query(
    "winnow_fingerprints",
    f"WITH fp AS ({_sql_winnow_fps()}) SELECT doc_id, unnest(fps) AS fp FROM fp",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every selected (doc, fingerprint) pair — the full winnowed
    fingerprint relation, hash-checked value by value."""
    from ..operators.textanalysis import winnowed_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fps = winnowed_fingerprints(spread(docs), k=K_WINNOW, w=W_WINNOW)
    return fps.select("doc_id", F.explode("fingerprints").alias("fp"))


@query(
    "winnow_candidate_pairs",
    f"""
    WITH fp AS ({_sql_winnow_fps()}),
    inv AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
    keep AS (SELECT fp FROM inv GROUP BY fp HAVING COUNT(*) <= {WINNOW_DF_CAP}),
    inv2 AS (SELECT inv.doc_id, inv.fp FROM inv JOIN keep USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_shared
    FROM inv2 a JOIN inv2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
)
def q_winnow_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates = docs sharing ≥ {min_shared} winnowed
    fingerprints (inverted index on the integer fp key, document-
    frequency cap against boilerplate-gram hot keys)."""
    from ..operators.textanalysis import winnow_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_candidate_pairs(
        spread(docs),
        k=K_WINNOW,
        w=W_WINNOW,
        min_shared=WINNOW_MIN_SHARED,
        df_cap=WINNOW_DF_CAP,
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (Lee et al. 2022): repeated SPANS, not
# repeated documents. The decision table substring dedup consumes is
# per-document token ranges whose k-gram content also exists in some
# OTHER document — boilerplate headers/footers/licenses shared by
# thousands of otherwise-unique pages, invisible to every document-
# granularity query (exact_dedup, MinHash, containment). Nothing
# pairwise anywhere: gram document-frequency is ONE mergeable count
# (the persistable index at 100 TB), and runs collapse per document.
# ---------------------------------------------------------------------------
SPAN_GRAM = 8  # tokens per gram; a span is >= SPAN_GRAM shared tokens


@query(
    "duplicate_text_spans",
    f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(toks[i : i + {SPAN_GRAM - 1}], ' ')) AS gh
          FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(toks) - {SPAN_GRAM - 2}, 1))) AS i
          ) u),
    df AS (SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
           GROUP BY gh HAVING COUNT(*) >= 2),
    shared AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gh)),
    runs AS (SELECT doc_id, pos,
                    pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY pos) AS island
             FROM shared)
    SELECT doc_id,
           MIN(pos)::BIGINT AS span_start,
           (MAX(pos) - MIN(pos) + {SPAN_GRAM})::BIGINT AS span_tokens,
           COUNT(*)::BIGINT AS n_grams
    FROM runs GROUP BY doc_id, island
    """,
)
def q_duplicate_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document maximal runs of {SPAN_GRAM}-token grams shared
    with at least one other document
    (operators/textanalysis.py::duplicate_span_report — see its
    docstring for the three-stage, never-pairwise plan). Crafted
    boilerplate-injection semantics pinned in
    tests/test_ext_operators.py."""
    from ..operators.textanalysis import duplicate_span_report

    docs = spread(load_table(spark, sf_dir, "documents"))
    return duplicate_span_report(docs, k=SPAN_GRAM)


@query(
    "scrub_duplicate_spans",
    f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(toks[i : i + {SPAN_GRAM - 1}], ' ')) AS gh
          FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(toks) - {SPAN_GRAM - 2}, 1))) AS i
          ) u),
    own AS (SELECT gh, MIN(doc_id) AS owner
            FROM (SELECT DISTINCT gh, doc_id FROM g)
            GROUP BY gh HAVING COUNT(*) >= 2),
    cut AS (SELECT g.doc_id, g.pos FROM g JOIN own USING (gh)
            WHERE g.doc_id <> own.owner),
    cov AS (SELECT DISTINCT doc_id, pos + o.off AS tp
            FROM cut, LATERAL (
              SELECT unnest(range(0, {SPAN_GRAM})) AS off) o),
    tok AS (SELECT doc_id, i AS tp, toks[i] AS tok
            FROM t, LATERAL (
              SELECT unnest(range(1, len(toks) + 1)) AS i) u),
    kept AS (SELECT tok.doc_id,
                    string_agg(tok.tok, ' ' ORDER BY tok.tp) AS scrubbed_text,
                    COUNT(*) AS n_kept
             FROM tok LEFT JOIN cov
               ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp
             WHERE cov.tp IS NULL GROUP BY tok.doc_id)
    SELECT t.doc_id,
           COALESCE(k.scrubbed_text, '') AS scrubbed_text,
           COALESCE(k.n_kept, 0)::BIGINT AS n_tokens_kept,
           (len(t.toks) - COALESCE(k.n_kept, 0))::BIGINT AS n_tokens_removed
    FROM t LEFT JOIN kept k USING (doc_id)
    """,
)
def q_scrub_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup REWRITE — duplicate_text_spans' decision
    table APPLIED (operators/textanalysis.py::scrub_duplicate_spans):
    every cross-document duplicated token range is cut from all but
    its canonical owner document (min doc_id per gram), producing the
    deduplicated corpus text — the actual Lee et al. 2022 deliverable.
    The oracle composes the span query's own gram/df CTE chain with
    the owner rule and a position anti-join token rebuild, so the
    hash match checks detection AND rewrite end-to-end."""
    from ..operators.textanalysis import scrub_duplicate_spans

    docs = spread(load_table(spark, sf_dir, "documents"))
    return scrub_duplicate_spans(docs, k=SPAN_GRAM)


# ---------------------------------------------------------------------------
# Incremental substring dedup: the (gh, df) gram table IS the
# persistable index duplicate_text_spans' docstring promises — gram
# document-frequency is a MERGEABLE count over disjoint doc slices
# (the vocab_new_batch posture), so a new ingest grams ONLY its batch,
# adds its partial counts to the persisted index, and reports spans
# for batch docs alone. The corpus is never re-grammed. Oracle = the
# full-recompute span SQL restricted to batch docs — the literal
# statement of incremental == from-scratch.
# ---------------------------------------------------------------------------
def _span_batch_oracle() -> str:
    from ..operators.sampling import sql_hash_bucket

    return f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(toks[i : i + {SPAN_GRAM - 1}], ' ')) AS gh
          FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(toks) - {SPAN_GRAM - 2}, 1))) AS i
          ) u),
    df AS (SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM g)
           GROUP BY gh HAVING COUNT(*) >= 2),
    shared AS (SELECT g.doc_id, g.pos FROM g JOIN df USING (gh)
               WHERE {sql_hash_bucket("g.doc_id")} < {NEW_BATCH_PCT}),
    runs AS (SELECT doc_id, pos,
                    pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY pos) AS island
             FROM shared)
    SELECT doc_id,
           MIN(pos)::BIGINT AS span_start,
           (MAX(pos) - MIN(pos) + {SPAN_GRAM})::BIGINT AS span_tokens,
           COUNT(*)::BIGINT AS n_grams
    FROM runs GROUP BY doc_id, island
    """


@query("spans_new_batch", _span_batch_oracle())
def q_spans_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span dedup at INGEST: the corpus (90%) gram
    document-frequency table is written as a parquet index
    (gram_document_frequency — ALL grams kept, df >= 1, because a
    batch's second occurrence is what promotes a df=1 gram to shared),
    read back, and merged with the batch's partial counts by one
    sum-groupBy on the 16-byte gram hash — disjoint doc slices make
    df ADDITIVE, so merged df == full-corpus df exactly. Batch grams
    (map-only, batch-sized) join the merged df >= 2 keys and collapse
    to runs. The corpus text is scanned once to BUILD the index and
    never re-grammed afterwards (plan-pinned); a real pipeline owns
    the index across ingests and pays only the probe+merge."""
    import os

    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import (
        _doc_grams,
        gram_document_frequency,
        spans_from_shared,
    )
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    base = _run_scoped_index_dir("span_gram")
    idx_path = os.path.join(base, "gram_df_index")
    write_parquet(
        gram_document_frequency(_doc_grams(spread(corpus), SPAN_GRAM)),
        idx_path,
    )
    idx = spark.read.parquet(idx_path)

    batch_grams = _doc_grams(batch, SPAN_GRAM)
    merged = (
        idx.unionByName(gram_document_frequency(batch_grams))
        .groupBy("gh")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gh")
    )
    return spans_from_shared(batch_grams.join(merged, "gh"), SPAN_GRAM)


def _scrub_batch_oracle() -> str:
    from ..operators.sampling import sql_hash_bucket

    return f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(toks[i : i + {SPAN_GRAM - 1}], ' ')) AS gh
          FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(toks) - {SPAN_GRAM - 2}, 1))) AS i
          ) u),
    own AS (SELECT gh, MIN(doc_id) AS owner
            FROM (SELECT DISTINCT gh, doc_id FROM g)
            GROUP BY gh HAVING COUNT(*) >= 2),
    cut AS (SELECT g.doc_id, g.pos FROM g JOIN own USING (gh)
            WHERE g.doc_id <> own.owner),
    cov AS (SELECT DISTINCT doc_id, pos + o.off AS tp
            FROM cut, LATERAL (
              SELECT unnest(range(0, {SPAN_GRAM})) AS off) o),
    tok AS (SELECT doc_id, i AS tp, toks[i] AS tok
            FROM t, LATERAL (
              SELECT unnest(range(1, len(toks) + 1)) AS i) u),
    kept AS (SELECT tok.doc_id,
                    string_agg(tok.tok, ' ' ORDER BY tok.tp) AS scrubbed_text,
                    COUNT(*) AS n_kept
             FROM tok LEFT JOIN cov
               ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp
             WHERE cov.tp IS NULL GROUP BY tok.doc_id)
    SELECT t.doc_id,
           COALESCE(k.scrubbed_text, '') AS scrubbed_text,
           COALESCE(k.n_kept, 0)::BIGINT AS n_tokens_kept,
           (len(t.toks) - COALESCE(k.n_kept, 0))::BIGINT AS n_tokens_removed
    FROM t LEFT JOIN kept k USING (doc_id)
    WHERE {sql_hash_bucket("t.doc_id")} < {NEW_BATCH_PCT}
    """


@query("scrub_new_batch", _scrub_batch_oracle())
def q_scrub_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring SCRUB at INGEST — the rewrite twin of spans_new_batch:
    the corpus (90%) persists its (gh, df, owner) gram-ownership index
    (gram_ownership_index — df and owner are both mergeable: counts
    add, owners min); a new batch grams ONLY itself, left-joins its
    partial index against the persisted one, and folds them with
    df_total = df_batch + df_corpus, owner_total = least(owners) —
    exactly the full-corpus values, because the doc slices are
    disjoint. Batch gram occurrences with df_total >= 2 and a
    different owner are cut and the batch text rebuilt map-side
    (shared apply_cut_positions tail). The corpus is never re-grammed
    or rewritten — ingest-time scrub touches incoming docs only, and
    the global min-doc_id owner rule makes that EXACTLY the full
    recompute restricted to the batch (a batch doc that is the global
    owner keeps its text; the oracle says so cryptographically)."""
    import os

    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import (
        _doc_grams,
        apply_cut_positions,
        gram_ownership_index,
    )
    from ..sources.sinks import write_parquet

    docs = load_table(spark, sf_dir, "documents")
    is_new = hash_bucket("doc_id") < NEW_BATCH_PCT
    corpus, batch = docs.filter(~is_new), docs.filter(is_new)

    base = _run_scoped_index_dir("scrub_gram")
    idx_path = os.path.join(base, "gram_owner_index")
    write_parquet(
        gram_ownership_index(_doc_grams(spread(corpus), SPAN_GRAM)),
        idx_path,
    )
    idx = spark.read.parquet(idx_path).withColumnsRenamed(
        {"df": "df_c", "owner": "owner_c"}
    )

    bg = _doc_grams(batch, SPAN_GRAM)
    merged = (
        gram_ownership_index(bg)
        .join(idx, "gh", "left")
        .select(
            "gh",
            (F.col("df") + F.coalesce(F.col("df_c"), F.lit(0))).alias(
                "df_tot"
            ),
            F.least(
                F.col("owner"), F.coalesce(F.col("owner_c"), F.col("owner"))
            ).alias("owner_tot"),
        )
        .filter(F.col("df_tot") >= 2)
        .select("gh", "owner_tot")
    )
    cut = bg.join(merged, "gh").filter(
        F.col("doc_id") != F.col("owner_tot")
    )
    return apply_cut_positions(batch, cut, SPAN_GRAM)


def _simhash_ctes(src: str = "documents") -> str:
    """CTE chain ``toks → bits → sim(doc_id, simhash)`` replicating
    ``simhash32`` nibble-for-nibble over table/CTE ``src``."""
    sums = []
    for b in range(32):
        nib, off = divmod(b, 4)
        nib_expr = f"(instr('0123456789abcdef', substr(md5(t), {nib + 1}, 1)) - 1)"
        bit = f"((({nib_expr}) // {1 << off}) % 2)"
        sums.append(f"SUM(2 * {bit} - 1) AS s_{b}")
    recompose = " + ".join(f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    return f"""
    toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM {src}),
    bits AS (SELECT doc_id, {", ".join(sums)} FROM toks GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits)
    """


def _simhash_oracle() -> str:
    return f"""
    WITH {_simhash_ctes()}
    SELECT doc_id, simhash FROM sim
    """


@query("simhash_docs", _simhash_oracle())
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5-nibble token hashes —
    near-dup fingerprint whose Hamming neighbors are dedup candidates.
    ``spread`` fans the single-row-group local fixture across cores
    before the per-token hash work (a no-op at real scale, where the
    source has at least shuffle-partitions row groups)."""

    docs = load_table(spark, sf_dir, "documents")
    return spread(docs).select("doc_id", simhash32("text").alias("simhash"))


def _simhash_pairs_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_idx, (simhash >> {8 * b}) & 255 AS band_key FROM sim"
        for b in range(SIMHASH_BANDS)
    )
    return f"""
    WITH rep AS (SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
                 FROM documents
                 GROUP BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))),
    {_simhash_ctes("rep")},
    bands AS ({bands}),
    bucket_ok AS (SELECT band_idx, band_key FROM bands
                  GROUP BY band_idx, band_key
                  HAVING COUNT(*) > 1 AND COUNT(*) <= {SIMHASH_BUCKET_CAP}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sa, b.simhash AS sb
             FROM bands a
             JOIN bucket_ok o
               ON a.band_idx = o.band_idx AND a.band_key = o.band_key
             JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAMMING_MAX}
    """


@query("simhash_candidate_pairs", _simhash_pairs_oracle())
def q_simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 near-dup pairs: 4×8-bit band buckets →
    in-bucket pair expansion → popcount-of-XOR verification. Banding
    is pigeonhole-lossless at radius 3; the oracle replicates band
    keys, bucket cap and XOR popcount exactly, so the hash check
    covers the whole retrieval path, not just the fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(docs)


