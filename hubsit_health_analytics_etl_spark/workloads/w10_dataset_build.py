"""End-to-end LLM dataset-build flagship, cross-source dup matrix, event funnel, MERGE INTO.

Mechanical split of the former single-file EXT workload (VERDICT r13
#2); registration ORDER is load-bearing — modules import in sequence
via ``workloads/__init__.py`` so the ``@query`` registry is unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w01_windows_text import KEEP_MAX_TOKENS, KEEP_MIN_QUALITY, KEEP_MIN_TOKENS, _sql_doc_annotations  # noqa: E402
from .w02_dedup import DECON_DF_CAP, DECON_EVAL_PCT, DECON_K, SPAN_GRAM, _decon_ctes, _minhash_pairs_ctes, _run_scoped_index_dir  # noqa: E402
from .w06_joins_chunking import PACK_BUDGET  # noqa: E402
from .w08_ann_composites import SPLIT_TEST_PCT  # noqa: E402
from .w09_curation_lifecycle import BPE_MERGES, N_TRAIN_SHARDS, _bpe_ctes, _bpe_merges_for  # noqa: E402


# ---------------------------------------------------------------------------
# THE END-TO-END DATASET-BUILD FLAGSHIP (VERDICT r12 #1): every stage a
# real training-data dump runs, chained in ONE oracle-checked query —
# curate (lang+quality band) → exact+fuzzy dedup (min-id keeper) →
# benchmark decontamination → leakage-safe cluster split → substring
# scrub over the SELECTED set → tokenize under the TRAINED BPE merges →
# budget-pack into bins → hash-shard with stable positions → export the
# dump with a content manifest and VERIFY it. Stage interactions are
# the point (the corpus_scrub_pipeline lesson): gram ownership is
# computed on the selected survivors only, token counts are the REAL
# trained-tokenizer counts of the SCRUBBED text (not the regex estimate
# token_pack_bins uses), and bin/shard assignments derive from those.
# The DuckDB oracle composes the stage CTEs (annotations, decon,
# MinHash, recursive CC, scrub, unrolled BPE, pack/shard windows) into
# one statement, so the hash match certifies the whole chain, not each
# stage alone.
# ---------------------------------------------------------------------------
def _bpe_vocab_apply_ctes(k: int, src: str = "documents") -> str:
    """Apply the k merges LEARNED by _bpe_ctes' b1..bk to the full
    ``src`` vocabulary: vf (distinct words) → v1 (chr(1)-terminated
    char sequences) → v{r+1} = v{r} rewritten by b{r}. The SQL twin of
    operators/textanalysis.py::bpe_apply_merges — how a PINNED
    tokenizer (trained on the standing corpus) prices words the
    training slice never saw. Returns a trailing-comma CTE block that
    must follow _bpe_ctes(k) in the same WITH."""
    ctes = [
        f"""vf AS MATERIALIZED (SELECT DISTINCT w AS word
           FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
                 FROM {src})),
    v1 AS MATERIALIZED (SELECT word,
           chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
                  i -> word[CAST(i AS INT)]), chr(1) || chr(1)) || chr(1) AS seq
           FROM vf)"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""v{r + 1} AS MATERIALIZED (SELECT w.word, replace(w.seq,
                        chr(1) || bb.left_sym || chr(1) || chr(1) || bb.right_sym || chr(1),
                        chr(1) || bb.merged || chr(1)) AS seq
                 FROM v{r} w CROSS JOIN b{r} bb)"""
        )
    return ",\n    ".join(ctes) + ",\n    "


def _llm_dataset_build_oracle(prelude: str = "", bpe_src: str = "documents") -> str:
    """The flagship from-scratch SQL. With the defaults this is the
    oracle of llm_dataset_build / llm_dataset_new_batch /
    llm_dataset_forget (byte-identical to the r12 original).
    ``bpe_src`` != "documents" switches to PINNED-tokenizer semantics:
    the BPE chain trains on ``bpe_src`` (a ``prelude`` CTE, e.g. the
    standing 90% slice) and the learned merges are then APPLIED to the
    full-corpus vocabulary via _bpe_vocab_apply_ctes — the
    llm_dataset_merge_only production contract (a pipeline does not
    retrain its tokenizer per ingest)."""
    bpe = _bpe_ctes(BPE_MERGES, src=bpe_src)
    assert bpe.startswith("WITH ")
    pinned = bpe_src != "documents"
    vocab_apply = _bpe_vocab_apply_ctes(BPE_MERGES) if pinned else ""
    wsym_src = f"v{BPE_MERGES + 1}" if pinned else f"w{BPE_MERGES + 1}"
    return f"""
    WITH RECURSIVE {prelude}{_sql_doc_annotations()},
    {_decon_ctes()},
    contaminated AS (SELECT DISTINCT doc_id FROM dhits),
    {_minhash_pairs_ctes()},
    xfp AS (SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
            FROM documents),
    xfreps AS (SELECT fp, MIN(doc_id) AS rep FROM xfp GROUP BY fp),
    edges0 AS (
        SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= {JACCARD_THRESHOLD}
        UNION
        SELECT fr.rep AS doc_a, p.doc_id AS doc_b
        FROM xfp p JOIN xfreps fr USING (fp) WHERE p.doc_id <> fr.rep),
    edgesx AS (SELECT doc_a AS u, doc_b AS v FROM edges0
               UNION
               SELECT doc_b AS u, doc_a AS v FROM edges0),
    reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.node, e.v FROM reach JOIN edgesx e ON e.u = reach.r),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    sel AS (
        SELECT a.doc_id
        FROM ann a
        JOIN dsplit ds ON ds.doc_id = a.doc_id
        JOIN comp m ON m.node = a.doc_id
        LEFT JOIN contaminated c ON c.doc_id = a.doc_id
        WHERE a.lang_pred = 'en' AND a.quality_score >= {KEEP_MIN_QUALITY}
          AND a.n_tokens BETWEEN {KEEP_MIN_TOKENS} AND {KEEP_MAX_TOKENS}
          AND NOT ds.is_eval AND c.doc_id IS NULL AND m.node = m.component
          AND {sql_hash_bucket("m.component", salt="split")} >= {SPLIT_TEST_PCT}),
    st AS (SELECT d.doc_id, string_split(lower(d.text), ' ') AS toks
           FROM documents d JOIN sel USING (doc_id)),
    sg AS (SELECT doc_id, i AS pos,
                  md5(array_to_string(toks[i : i + {SPAN_GRAM - 1}], ' ')) AS gh
           FROM st, LATERAL (
             SELECT unnest(range(1, greatest(len(toks) - {SPAN_GRAM - 2}, 1))) AS i
           ) u),
    sown AS (SELECT gh, MIN(doc_id) AS owner
             FROM (SELECT DISTINCT gh, doc_id FROM sg)
             GROUP BY gh HAVING COUNT(*) >= 2),
    scut AS (SELECT sg.doc_id, sg.pos FROM sg JOIN sown USING (gh)
             WHERE sg.doc_id <> sown.owner),
    scov AS (SELECT DISTINCT doc_id, pos + o.off AS tp
             FROM scut, LATERAL (
               SELECT unnest(range(0, {SPAN_GRAM})) AS off) o),
    stok AS (SELECT doc_id, i AS tp, toks[i] AS tok
             FROM st, LATERAL (
               SELECT unnest(range(1, len(toks) + 1)) AS i) u),
    skept AS (SELECT stok.doc_id,
                     string_agg(stok.tok, ' ' ORDER BY stok.tp) AS s_text,
                     COUNT(*) AS n_kept
              FROM stok LEFT JOIN scov
                ON stok.doc_id = scov.doc_id AND stok.tp = scov.tp
              WHERE scov.tp IS NULL GROUP BY stok.doc_id),
    scrubbed AS (SELECT st.doc_id, COALESCE(k.s_text, '') AS s_text,
                        COALESCE(k.n_kept, 0)::BIGINT AS n_tokens_kept
                 FROM st LEFT JOIN skept k USING (doc_id)),
    {bpe[len("WITH "):]},
    {vocab_apply}wsym AS (SELECT word,
                    len(list_filter(string_split(seq, chr(1)), x -> x <> ''))::BIGINT
                      AS n_syms
             FROM {wsym_src}),
    swords AS (SELECT doc_id,
                      unnest(regexp_extract_all(lower(s_text), '[a-z]+')) AS word
               FROM scrubbed),
    scount AS (SELECT s.doc_id, SUM(w.n_syms)::BIGINT AS n_bpe
               FROM swords s JOIN wsym w USING (word) GROUP BY s.doc_id),
    tokd AS (SELECT sc.doc_id, sc.n_tokens_kept,
                    COALESCE(c.n_bpe, 0)::BIGINT AS n_bpe
             FROM scrubbed sc LEFT JOIN scount c USING (doc_id)),
    hsh AS (SELECT doc_id, n_tokens_kept, n_bpe,
                   CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS hv
            FROM tokd),
    shplan AS (SELECT doc_id, n_tokens_kept, n_bpe,
                      hv % {N_TRAIN_SHARDS} AS shard,
                      ROW_NUMBER() OVER (PARTITION BY hv % {N_TRAIN_SHARDS}
                                         ORDER BY hv, doc_id) AS shard_pos,
                      SUM(n_bpe) OVER (PARTITION BY hv % {N_TRAIN_SHARDS}
                                       ORDER BY hv, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
               FROM hsh)
    SELECT doc_id, shard::BIGINT AS shard, shard_pos::BIGINT AS shard_pos,
           ((cum - n_bpe) // {PACK_BUDGET})::BIGINT AS bin,
           n_tokens_kept, n_bpe AS n_bpe_tokens,
           1::BIGINT AS verified
    FROM shplan
    """


def _llm_dataset_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's pre-export plan — stages 1-7 as one lazy
    DataFrame (doc_id, shard, shard_pos, bin, n_tokens_kept,
    n_bpe_tokens). Split out so tests/test_plan_quality.py can pin the
    whole chain's physical plan (the exported dump's read-back plan is
    just a parquet scan and pins nothing)."""
    from pyspark.sql import Window

    from ..operators.clusters import connected_components
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import (
        BPE_SEP,
        annotate_documents,
        bpe_apply_merges,
        bpe_word_table,
        contamination_report,
        scrub_duplicate_spans,
    )

    from ..operators.concurrency import run_concurrent

    docs = load_table(spark, sf_dir, "documents")

    def _branch_scrubbed():
        # 1-4: the curation decision (shared rules with
        # q_corpus_curation_pipeline, reduced to the selected set)
        ann = annotate_documents(spread(docs))
        is_bench = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
        contam = (
            contamination_report(
                docs.filter(~is_bench),
                docs.filter(is_bench),
                k=DECON_K,
                df_cap=DECON_DF_CAP,
            )
            .select("doc_id")
            .withColumn("_ct", F.lit(1))
        )
        near = minhash_candidates(
            docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
        ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        edges = near.unionByName(exact_dup_edges(docs))
        comps = connected_components(edges)
        resolved = (
            docs.select(F.col("doc_id").alias("node"))
            .join(comps, "node", "left")
            .select(
                F.col("node").alias("doc_id"),
                F.coalesce(F.col("component"), F.col("node")).alias("component"),
            )
        )
        sel = (
            ann.join(resolved, "doc_id")
            .join(contam, "doc_id", "left")
            .filter(
                (F.col("lang_pred") == "en")
                & (F.col("quality_score") >= KEEP_MIN_QUALITY)
                & F.col("n_tokens").between(KEEP_MIN_TOKENS, KEEP_MAX_TOKENS)
                & ~is_bench
                & F.col("_ct").isNull()
                & (F.col("doc_id") == F.col("component"))
                & (hash_bucket("component", 100, "split") >= SPLIT_TEST_PCT)
            )
            .select("doc_id")
        )

        # 5: substring scrub over the selected survivors only. The
        # scrubbed corpus is a real stage boundary (it IS the
        # cleaned-text dump) and is consumed three times downstream
        # (word explode + token-count join-back) — materialize it once
        # instead of re-running curate+dedup+scrub per consumer; with a
        # session checkpoint directory this lands on durable storage
        # (SCALING.md "Iterative jobs").
        return scrub_duplicate_spans(
            spread(docs).join(sel, "doc_id"), k=SPAN_GRAM
        ).transform(materialize, eager=True)

    # 6: trained-tokenizer counts of the scrubbed text (frozen merges,
    # applied map-only over the distinct-word dimension). The trainer
    # depends only on the raw word table, the scrub chain (CC rounds +
    # eager checkpoint) only on the curation stages — two independent
    # job cascades, overlapped (guide §2.6).
    scrubbed, merges = run_concurrent(
        _branch_scrubbed, lambda: _bpe_merges_for(spark, sf_dir)
    )
    wf = bpe_word_table(spread(docs))
    seq = F.concat(
        F.lit(BPE_SEP),
        F.concat_ws(BPE_SEP + BPE_SEP, F.split(F.col("word"), "")),
        F.lit(BPE_SEP),
    )
    wseq = bpe_apply_merges(wf.select("word", seq.alias("seq")), merges)
    wsym = wseq.select(
        "word",
        F.size(F.expr("filter(split(seq, char(1)), x -> x <> '')"))
        .cast("bigint")
        .alias("n_syms"),
    )
    swords = scrubbed.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(scrubbed_text), '[a-z]+', 0)")
        ).alias("word"),
    )
    scount = swords.join(wsym, "word").groupBy("doc_id").agg(
        F.sum("n_syms").cast("bigint").alias("n_bpe")
    )
    tokd = (
        scrubbed.select("doc_id", "n_tokens_kept")
        .join(scount, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_kept",
            F.coalesce(F.col("n_bpe"), F.lit(0)).cast("bigint").alias("n_bpe"),
        )
    )

    # 7-8: shard plan + budget bins + verified export
    return _shard_pack_plan(tokd)


def _shard_pack_plan(tokd: DataFrame) -> DataFrame:
    """Stages 7-8 of the flagship as a reusable tail: md5-hash shard
    assignment, stable in-shard positions, budget-quantized cumulative
    bins — shared verbatim by the incremental build so both paths run
    the IDENTICAL plan over their (doc_id, n_tokens_kept, n_bpe)
    table. Per-shard windows only, never a global sort."""
    from pyspark.sql import Window

    h = tokd.withColumn(
        "hv",
        F.expr(
            "cast(conv(substr(md5(concat('shard', cast(doc_id as string))), 1, 8),"
            " 16, 10) as bigint)"
        ),
    ).withColumn("shard", (F.col("hv") % N_TRAIN_SHARDS).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    planned = h.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("shard_pos"),
        (
            F.sum("n_bpe").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("n_bpe")
        ).alias("_start"),
        "n_tokens_kept",
        F.col("n_bpe").alias("n_bpe_tokens"),
    ).withColumn(
        "bin", F.expr(f"_start div {PACK_BUDGET}").cast("bigint")
    )
    return planned.select(
        "doc_id", "shard", "shard_pos", "bin", "n_tokens_kept", "n_bpe_tokens"
    )


@query("llm_dataset_build", _llm_dataset_build_oracle())
def q_llm_dataset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-build flagship: one row per document in the FINAL
    training dump — (doc_id, shard, shard_pos, bin, n_tokens_kept,
    n_bpe_tokens, verified) — produced by the full curation chain and
    read back from the VERIFIED export on disk, so the hash match
    covers what a trainer actually loads.

    Stages (each alone has a green sibling query; the composition is
    what this row certifies — see _llm_dataset_plan for the chain):
    1. curate — annotate_documents; keep en / quality / token band
       (corpus_keep_list rule);
    2. dedup — exact reps + capped MinHash edges -> connected
       components -> min-id keeper (corpus_dedup_pipeline rule);
    3. decontaminate — 4-gram hits vs the benchmark slice drop, and
       the benchmark slice itself is excluded
       (benchmark_decontamination rule);
    4. split — leakage-safe cluster-hash split, train side only:
       near-dups of held-out docs leave with their whole cluster;
    5. scrub — duplicate token spans removed with gram ownership
       computed over the SELECTED SURVIVORS ONLY (the
       corpus_scrub_pipeline interaction: dropping docs re-owns and
       de-shares grams);
    6. tokenize — the TRAINED BPE merges (bpe_train_merges' frozen
       tokenizer) re-encode the SCRUBBED text via the distinct-word
       table: the real token budget, not token_pack_bins' regex
       estimate;
    7. pack — budget-quantized cumulative bins of PACK_BUDGET BPE
       tokens within each shard (token_pack_bins rule, real counts);
    8. shard+export — md5-hash shards with stable in-shard positions
       (training_shard_plan rule), dumped via export_training_shards
       and manifest-VERIFIED; ``verified`` flips to 0 (hash mismatch)
       if the dump on disk disagrees with its manifest.

    Scale shape: every stage keeps its sibling query's posture (capped
    bucket-blocked candidates, O(log d) CC rounds with lineage
    truncation, broadcast benchmark grams, map-only trained-tokenizer
    apply over the word dimension, per-shard windows — never a global
    sort). Corpus rescans are bounded and pinned by
    tests/test_plan_quality.py::
    test_llm_dataset_build_bounded_corpus_rescans. Oracle = all stage
    CTEs (annotations, decon, MinHash, recursive CC, scrub, unrolled
    BPE, pack/shard windows) composed into ONE DuckDB statement."""
    from ..sources.export import (
        export_training_shards,
        read_export,
        verify_export,
    )

    final = _llm_dataset_plan(spark, sf_dir)
    out_dir = _run_scoped_index_dir("llm_build") + "/dump"
    export_training_shards(final, out_dir, N_TRAIN_SHARDS, "doc_id")
    ok = 1 if not verify_export(spark, out_dir) else 0
    # manifest-schema read: an empty selected set (over-aggressive
    # curation on a corpus with nothing to keep) yields an EMPTY
    # result, never an inference crash (bench_scale.py r13 finding)
    dump = read_export(spark, out_dir)
    return dump.select(
        "doc_id",
        "shard",
        "shard_pos",
        "bin",
        "n_tokens_kept",
        "n_bpe_tokens",
        F.lit(ok).cast("bigint").alias("verified"),
    )


# ---------------------------------------------------------------------------
# Cross-source near-dup matrix: which sources duplicate each other —
# the corpus-analytics view a curation team reads before deciding
# source priorities (dedup_keep_by_source consumes exactly this
# signal). Rides the production MinHash+LSH pair set; the per-pair
# statistic is MAX(jaccard), order-independent so the float survives
# the cross-engine hash (a float SUM/AVG over an unordered group
# would not).
# ---------------------------------------------------------------------------
@query(
    "near_dup_source_matrix",
    f"""
    WITH {_minhash_pairs_ctes()},
    e AS (SELECT LEAST(da.source, db.source) AS source_a,
                 GREATEST(da.source, db.source) AS source_b,
                 p.jaccard
          FROM mh_pairs p
          JOIN documents da ON da.doc_id = p.doc_a
          JOIN documents db ON db.doc_id = p.doc_b
          WHERE p.jaccard >= {JACCARD_THRESHOLD})
    SELECT source_a, source_b, COUNT(*)::BIGINT AS n_pairs,
           ROUND(MAX(jaccard), 4) AS max_jaccard
    FROM e GROUP BY source_a, source_b
    """,
)
def q_near_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_pairs, max_jaccard) over the capped
    pre-exact-dedup MinHash pair set — pair volume is bounded by the
    LSH bucket caps, and the two source lookups join back to the
    documents table on doc_id (at scale: the pairs frame is tiny next
    to the corpus, so both joins broadcast the PAIRS side or shuffle
    only pair rows, never the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidates(
        docs, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    src = docs.select("doc_id", "source")
    e = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
    )
    return e.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.max("jaccard"), 4).alias("max_jaccard"),
    )


# ---------------------------------------------------------------------------
# Event funnel: ordered-sequence analytics (view -> click -> purchase
# within a conversion window) — the product-analytics shape
# MATCH_RECOGNIZE serves elsewhere, expressed as strictly-prior window
# maxima so one user-hash shuffle serves the whole funnel. A click
# qualifies iff a view precedes it within FUNNEL_WINDOW_MIN in the
# user's (ts, event_id) event order; a purchase qualifies iff a
# QUALIFIED click precedes it within the window (chained window over
# a window — same partitioning, no extra exchange).
# ---------------------------------------------------------------------------
FUNNEL_WINDOW_MIN = 480  # conversion deadline per step, minutes


@query(
    "event_funnel",
    f"""
    WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    q AS (SELECT *, MAX(CASE WHEN event_type = 'view' THEN ts END) OVER w AS prior_view
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    q2 AS (SELECT *, MAX(CASE WHEN event_type = 'click' AND prior_view IS NOT NULL
                              AND prior_view >= ts - INTERVAL {FUNNEL_WINDOW_MIN} MINUTES
                              THEN ts END) OVER w AS prior_qclick
           FROM q
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    c AS (SELECT
            COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n1,
            COUNT(DISTINCT CASE WHEN event_type = 'click'
                                AND prior_view IS NOT NULL
                                AND prior_view >= ts - INTERVAL {FUNNEL_WINDOW_MIN} MINUTES
                                THEN user_id END) AS n2,
            COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                AND prior_qclick IS NOT NULL
                                AND prior_qclick >= ts - INTERVAL {FUNNEL_WINDOW_MIN} MINUTES
                                THEN user_id END) AS n3
          FROM q2),
    u AS (SELECT 1 AS step_idx, 'view' AS step, n1 AS n_users FROM c
          UNION ALL SELECT 2, 'click', n2 FROM c
          UNION ALL SELECT 3, 'purchase', n3 FROM c)
    SELECT step_idx::BIGINT AS step_idx, step, n_users::BIGINT AS n_users,
           ROUND(n_users / FIRST_VALUE(CAST(n_users AS DOUBLE))
                             OVER (ORDER BY step_idx), 4) AS pct_of_step1
    FROM u
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step_idx, step, n_users, pct_of_step1): users reaching each
    funnel step within the FUNNEL_WINDOW_MIN conversion deadline. The
    strictly-prior frame (ROWS ... 1 PRECEDING) makes "after"
    well-defined even on ts ties (event_id breaks them identically in
    both engines); MAX of the prior step's ts = the most recent
    opportunity, so the deadline test is exact. Both chained windows
    and the count-distinct agg share the user_id hash partitioning;
    the final 3-row unpivot + pct window is driver-size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    deadline = F.expr(f"ts - INTERVAL {FUNNEL_WINDOW_MIN} MINUTES")
    q = ev.withColumn(
        "prior_view",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w1),
    )
    click_ok = (
        (F.col("event_type") == "click")
        & F.col("prior_view").isNotNull()
        & (F.col("prior_view") >= deadline)
    )
    q2 = q.withColumn(
        "prior_qclick", F.max(F.when(click_ok, F.col("ts"))).over(w1)
    )
    purchase_ok = (
        (F.col("event_type") == "purchase")
        & F.col("prior_qclick").isNotNull()
        & (F.col("prior_qclick") >= deadline)
    )
    c = q2.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n1"),
        F.countDistinct(F.when(click_ok, F.col("user_id"))).alias("n2"),
        F.countDistinct(F.when(purchase_ok, F.col("user_id"))).alias("n3"),
    )
    steps = [("view", "n1"), ("click", "n2"), ("purchase", "n3")]
    u = c.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("bigint").alias("step_idx"),
                        F.lit(name).alias("step"),
                        F.col(col).alias("n_users"),
                    )
                    for i, (name, col) in enumerate(steps)
                ]
            )
        ).alias("s")
    ).select("s.*")
    w_all = Window.orderBy("step_idx")
    return u.select(
        "step_idx",
        "step",
        "n_users",
        F.round(
            F.col("n_users") / F.first(F.col("n_users").cast("double")).over(w_all),
            4,
        ).alias("pct_of_step1"),
    )


