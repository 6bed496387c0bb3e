"""Incremental LLM dataset build — a new document batch updates the
training dump with text-processing cost ∝ batch (VERDICT r13 #3).

The flagship ``llm_dataset_build`` (w10) proves the 8-stage chain
from scratch; the per-index ``*_new_batch`` queries prove each
standing index merges a batch exactly. This module composes them:
``llm_dataset_new_batch`` maintains the standing artifacts (exact
fingerprint index, rep-level MinHash signature index + bucket sizes,
duplicate-edge table + cluster labels, decontamination gram counts /
postings / hit pairs, scrub postings + cut table + per-doc scrubbed
token and word counts, raw word-frequency table) against a 10% ingest
batch and re-derives ONLY the affected rows — then runs the flagship's
verbatim shard/pack/export tail and reads the VERIFIED dump back. The
oracle is the from-scratch flagship SQL on the full corpus, so the
hash match proves incremental == full rebuild (the markov_new_batch
splice precedent, stage-composed).

Registration order note: this module imports AFTER w01–w17 (new
queries append to the registry tail so the driver-gate rotation
spends its window on the verification backlog first).
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

from ..operators.sampling import sql_hash_bucket  # noqa: E402
from .w01_windows_text import (  # noqa: E402
    KEEP_MAX_TOKENS,
    KEEP_MIN_QUALITY,
    KEEP_MIN_TOKENS,
)
from .w02_dedup import (  # noqa: E402
    DECON_DF_CAP,
    DECON_EVAL_PCT,
    DECON_K,
    NEW_BATCH_PCT,
    SPAN_GRAM,
    _run_scoped_index_dir,
)
from .w08_ann_composites import SPLIT_TEST_PCT  # noqa: E402
from .w09_curation_lifecycle import BPE_MERGES, N_TRAIN_SHARDS  # noqa: E402
from .w10_dataset_build import (  # noqa: E402
    _llm_dataset_build_oracle,
    _shard_pack_plan,
)


# Broadcast guard for the scrub-splice's HOLDER-bounded frames
# (ADVICE r16 medium): rows of (doc_id, pos) ≈ 16 B each, so 1M rows
# ≈ 16 MB — comfortably under driver/executor headroom while still
# letting every fixture-scale splice take the broadcast fast path. A
# batch touching a boilerplate gram with more standing holders than
# this falls back to shuffle joins (correct, corpus-∝ shuffle on the
# affected slice only — the price of a df-uncapped span-gram index).
SPLICE_HOLDER_BCAST_CAP = 1_000_000


def _llm_selection(ann, labels, contaminated):
    """The flagship's stage-1-4 keep decision from METADATA tables
    only (no text): per-doc annotations, spliced (node, component)
    labels, and the contaminated id set. Shared verbatim by the
    standing fixture and the timed splice so both apply the identical
    rule (w10 `_llm_dataset_plan` stages 1-4)."""
    from ..operators.sampling import hash_bucket

    is_eval = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
    return (
        ann.join(
            labels.withColumnRenamed("node", "doc_id"), "doc_id"
        )
        .join(contaminated.withColumn("_ct", F.lit(1)), "doc_id", "left")
        .filter(
            (F.col("lang_pred") == "en")
            & (F.col("quality_score") >= KEEP_MIN_QUALITY)
            & F.col("n_tokens").between(KEEP_MIN_TOKENS, KEEP_MAX_TOKENS)
            & ~is_eval
            & F.col("_ct").isNull()
            & (F.col("doc_id") == F.col("component"))
            & (hash_bucket("component", 100, "split") >= SPLIT_TEST_PCT)
        )
        .select("doc_id")
    )


def _scrub_wordcounts(scrubbed):
    """(doc_id, word, cnt) over scrubbed text — the per-doc sufficient
    statistic for trained-tokenizer counts (n_bpe = Σ cnt·n_syms), so
    a tokenizer retrain re-prices every document with one vocab join
    instead of re-reading any text."""
    return (
        scrubbed.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(scrubbed_text), '[a-z]+', 0)")
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _scrub_splice(spark, docs, paths, sel_old, sel_new, arts=None, delta=None):
    """Stage-7 splice shared by the incremental build and the forget
    pass, in STANDING-CORPUS-INDEPENDENT form (VERDICT r15 #1): the
    standing postings / cut / skept / dwc tables are only SCANNED
    (broadcast-probed), never re-grouped or outer-joined corpus-wide.
    Ownership (df ≥ 2, min-doc owner) can change ONLY for grams whose
    posting set changed — the grams of added docs plus the grams of
    removed docs' standing postings — so df/owner re-derive over the
    AFFECTED-GRAM slice alone (all holders of those grams, probed out
    of the postings scan), the standing cut rows at affected positions
    are replaced by the recomputed ones, every other row passes
    through, and the changed-doc set falls out of the affected-scope
    symmetric diff (row-identical to the full diff: rows at
    non-affected positions of surviving docs cannot differ, and
    removed docs' vanished rows never survive the ⋉ sel_new filter).
    ONLY docs whose cut set changed re-scrub and re-word-count.

    ``delta``: the in-bound dict `_splice_selection` filled —
    ``added``/``removed`` are taken from it when present instead of
    being re-derived from two corpus-sized anti-joins (all three
    callers — ingest, merge-only and the forget pass's A_f-scoped
    selection — now supply it; commit 704c6a7). Broadcast
    hints encode the splice contract: added/removed/changed ≪ corpus
    (SCALING.md).

    Returns (skept', dwc', changed, scr_changed) — the trailing pair
    lets the pinned-tokenizer merge-only query price ONLY the changed
    docs and pass every other standing (doc, n_bpe) row through
    untouched."""
    from ..operators.textanalysis import _doc_grams, apply_cut_positions

    def rd(x):
        if isinstance(x, DataFrame):
            return x
        from ..sources.parquet import read_parquet_immutable

        return read_parquet_immutable(spark, x)

    from ..operators.concurrency import ckpt_wave

    bc = F.broadcast
    if delta is not None:
        added = delta["added"].select("doc_id")
        removed = delta["removed"].select("doc_id")
    else:
        added = sel_new.join(sel_old, "doc_id", "left_anti")
        removed = sel_old.join(sel_new, "doc_id", "left_anti")
    added, removed = ckpt_wave(added, removed)
    spost = rd(paths["scrub_postings"])
    # grams whose posting set changes: added docs' grams + removed
    # docs' standing postings (one broadcast-probed postings scan).
    # The added-docs frame is BATCH-BOUNDED by the splice contract, so
    # it spreads with an unconditional hash repartition: the keyed
    # exchange of a batch-sized frame is cheap at any scale and
    # coalescing-exempt (guide §2.5)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    add_grams = _doc_grams(
        docs.join(bc(added), "doc_id").repartition(n_part, "doc_id"),
        SPAN_GRAM,
    ).transform(materialize)
    rm_post = spost.join(bc(removed), "doc_id", "left_semi")
    g_aff = (
        add_grams.select("gh")
        .unionByName(rm_post.select("gh"))
        .distinct()
        .transform(materialize)
    )
    # ALL standing holders of affected grams (the df statistic needs
    # every posting of a changed gram, not just the delta's rows)
    std_aff_pos = spost.join(bc(g_aff), "gh", "left_semi").transform(materialize)
    # ADVICE r16 medium: the affected-holder slice is HOLDER-count
    # bounded, not batch-bounded — span-gram postings carry no df cap,
    # so ONE boilerplate gram in the batch makes this slice (and every
    # frame derived from it: aff_positions, cut_diff_docs, changed)
    # corpus-proportional. Broadcasting such a slice OOMs the driver
    # at scale, so probe its size (the count doubles as the eager
    # materialization of the checkpoint every consumer shares) and
    # demote the holder-bounded broadcasts to shuffle joins past the
    # cap. Batch-bounded frames (added/removed/g_aff/owners_aff) keep
    # their hints unconditionally — those ARE ≪ corpus by contract.
    n_aff_post = std_aff_pos.count()
    bch = bc if n_aff_post <= SPLICE_HOLDER_BCAST_CAP else (lambda df: df)
    aff_pos = (
        std_aff_pos.join(bc(removed), "doc_id", "left_anti")
        .unionByName(add_grams)
        .transform(materialize)  # consumers: owners_aff + cut_aff
    )
    owners_aff = (
        aff_pos.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") >= 2)
        .select("gh", "owner")
    )
    cut_aff = (
        aff_pos.join(bc(owners_aff), "gh")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
        .transform(materialize)
    )
    std_cut = rd(paths["cut"])
    aff_positions = std_aff_pos.select("doc_id", "pos")
    # standing cut rows at affected positions — the replaced slice
    # (every standing cut row's gram is a standing posting, so rows of
    # affected grams are exactly the rows at std_aff_pos positions)
    std_cut_aff = std_cut.join(
        bch(aff_positions), ["doc_id", "pos"], "left_semi"
    ).join(bc(removed), "doc_id", "left_anti")
    cut_passthrough = std_cut.join(bc(removed), "doc_id", "left_anti").join(
        bch(aff_positions), ["doc_id", "pos"], "left_anti"
    )
    # affected-scope symmetric diff == the full cut_new Δ cut diff
    # restricted to docs that can survive ⋉ sel_new
    cut_diff_docs = (
        std_cut_aff.withColumn("_o", F.lit(1))
        .join(
            cut_aff.withColumn("_n", F.lit(1)),
            ["doc_id", "pos"],
            "outer",
        )
        .filter(F.col("_n").isNull() | F.col("_o").isNull())
        .select("doc_id")
        .distinct()
    )
    changed = (
        sel_new.join(bch(cut_diff_docs), "doc_id", "left_semi")
        .union(added.select("doc_id"))
        .distinct()
        .transform(materialize)
    )
    cut_changed = (
        std_cut.join(bch(changed), "doc_id", "left_semi")
        .join(bch(aff_positions), ["doc_id", "pos"], "left_anti")
        .unionByName(cut_aff.join(bch(changed), "doc_id", "left_semi"))
    )
    scr_changed = apply_cut_positions(
        docs.join(bch(changed), "doc_id"),
        cut_changed,
        SPAN_GRAM,
    ).transform(materialize)
    # standing skept/dwc cover exactly sel_old's docs, so ⋉ sel_new
    # ≡ anti removed — a broadcast-probed scan, never a corpus shuffle
    skept_new = (
        rd(paths["skept"])
        .join(bc(removed), "doc_id", "left_anti")
        .join(bch(changed), "doc_id", "left_anti")
        .unionByName(scr_changed.select("doc_id", "n_tokens_kept"))
    )
    dwc_new = (
        rd(paths["dwc"])
        .join(bc(removed), "doc_id", "left_anti")
        .join(bch(changed), "doc_id", "left_anti")
        .unionByName(_scrub_wordcounts(scr_changed))
    )
    if arts is not None:
        arts["scrub_postings"] = spost.join(
            bc(removed), "doc_id", "left_anti"
        ).unionByName(add_grams)
        arts["cut"] = cut_passthrough.unionByName(cut_aff)
        arts["skept"] = skept_new
        arts["dwc"] = dwc_new
    return skept_new, dwc_new, changed, scr_changed


def _retrain_and_reprice(rwf_union, skept_new, dwc_new, merges=None):
    """Stage-8 shared tail: retrain the EXACT full-corpus tokenizer
    from the spliced (word, n) table (vocab-scale driver loop), then
    re-price every document with one word-dimension join — no text.

    ``merges``: pass the already-trained list when the caller ran the
    tokenizer branch concurrently with the splice (guide §2.6 — the
    retrain depends only on the spliced word table, not on any splice
    stage, so its collect+train hides under the splice's jobs)."""
    from ..operators.textanalysis import (
        BPE_SEP,
        bpe_apply_merges,
        bpe_train_merges_from_words,
    )

    if merges is None:
        merges = bpe_train_merges_from_words(rwf_union, BPE_MERGES)
    seq = F.concat(
        F.lit(BPE_SEP),
        F.concat_ws(BPE_SEP + BPE_SEP, F.split(F.col("word"), "")),
        F.lit(BPE_SEP),
    )
    wsym = bpe_apply_merges(
        rwf_union.select("word", seq.alias("seq")), merges
    ).select(
        "word",
        F.size(F.expr("filter(split(seq, char(1)), x -> x <> '')"))
        .cast("bigint")
        .alias("n_syms"),
    )
    scount = (
        dwc_new.join(wsym, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_bpe"))
    )
    return skept_new.join(scount, "doc_id", "left").select(
        "doc_id",
        "n_tokens_kept",
        F.coalesce(F.col("n_bpe"), F.lit(0)).cast("bigint").alias("n_bpe"),
    )


def _export_verified(spark, tokd, tag: str):
    """Stage-9 shared tail: flagship shard/pack plan + manifest-
    verified export, read back so the hash covers what a trainer
    loads."""
    from ..sources.export import (
        export_training_shards,
        read_export,
        verify_export,
    )

    final = _shard_pack_plan(tokd)
    out_dir = _run_scoped_index_dir(tag) + "/dump"
    export_training_shards(final, out_dir, N_TRAIN_SHARDS, "doc_id")
    ok = 1 if not verify_export(spark, out_dir) else 0
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


_LLM_STANDING: dict[str, dict[str, str]] = {}

_STANDING_KEYS = (
    "ann",
    "fps",
    "fp_members",
    "bands",
    "shingles",
    "bucket_sizes",
    "mh_edges",
    "exact_edges",
    "labels",
    "decon_counts",
    "decon_postings",
    "bench_grams",
    "decon_hits",
    "sel",
    "scrub_postings",
    "cut",
    "skept",
    "dwc",
    "rwf",
)


def _prepare_llm_standing(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Standing artifacts over the 90% slice (the ingest-batch
    complement) — what llm_dataset_new_batch merges into. Memoized
    per (process, sf_dir)."""
    got = _LLM_STANDING.get(sf_dir)
    if got is not None:
        return got
    from ..operators.sampling import hash_bucket

    paths = _build_llm_standing(
        spark,
        sf_dir,
        ~(hash_bucket("doc_id") < NEW_BATCH_PCT),
        "llm_standing",
    )
    _LLM_STANDING[sf_dir] = paths
    return paths


_LLM_STANDING_FULL: dict[str, dict[str, str]] = {}


def _prepare_llm_standing_full(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Standing artifacts over the FULL corpus — what
    llm_dataset_forget deletes from. Memoized per (process, sf_dir)."""
    got = _LLM_STANDING_FULL.get(sf_dir)
    if got is not None:
        return got
    paths = _build_llm_standing(spark, sf_dir, F.lit(True), "llm_standing_full")
    _LLM_STANDING_FULL[sf_dir] = paths
    return paths


def _build_llm_standing(spark, sf_dir, corpus_filter, tag) -> dict[str, str]:
    """Persist the standing-corpus artifacts of the dataset-build
    chain — what a production pipeline owns across ingests and
    amortizes. Every artifact is the persisted form its sibling
    ``*_new_batch`` / ``*_forget`` query already proves mergeable or
    invertible (fingerprint index + full group membership, rep-level
    LSH postings + bucket sizes, duplicate edges + labels, decon gram
    occurrence counts / postings / bench-gram doc counts / hit pairs,
    scrub postings + cut + per-doc token and word counts, raw word
    counts).

    The 19 artifacts advance TOGETHER: each is committed as a
    versioned table (sources/versioned.py::commit_version) and ONE
    catalog_commit publishes the whole set atomically — a crash
    between any two table commits leaves no torn standing state
    (readers resolve the previous catalog version, which names a
    mutually-consistent set). Returned paths are resolved THROUGH the
    committed catalog (catalog_data_dir), so every consumer reads the
    published snapshot."""
    import os

    from ..sources.versioned import catalog_commit, catalog_data_dir

    docs = load_table(spark, sf_dir, "documents")
    base = _run_scoped_index_dir(tag)
    versions, _ = _commit_standing_tables(
        spark, docs.filter(corpus_filter), base
    )
    catalog_commit(
        base,
        {k: (os.path.join("tables", k), v) for k, v in versions.items()},
        expected_parent=None,
        extra={"sf_dir": sf_dir, "tag": tag},
    )
    return {k: catalog_data_dir(base, k) for k in versions}


def _commit_standing_tables(
    spark, standing, base
) -> "tuple[dict[str, int], dict[str, str]]":
    """Build every standing artifact over the ``standing`` corpus and
    commit each as the next version of its member table under
    ``{base}/tables/{k}`` — WITHOUT the catalog publish, so a caller
    (the batch fixture above, the streaming sink's bootstrap) can fold
    extra members (docs, dump) into ONE atomic catalog commit. Returns
    (versions, interim read paths)."""
    import os

    from ..operators.clusters import connected_components
    from ..operators.dedup import (
        exact_dup_edges,
        exact_dup_representatives,
        exact_fingerprint_index,
        fingerprint,
        minhash_signature_index,
    )
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import (
        _doc_grams,
        annotate_documents,
        apply_cut_positions,
        bpe_word_table,
        decon_grams,
    )
    from ..sources.versioned import commit_version, read_manifest

    versions: dict[str, int] = {}

    def write_parquet(df, k: str) -> None:
        """Commit artifact ``k`` as the next version of its member
        table; the interim read-back path (the build is a sequential
        chain — each artifact derives from previously-committed ones)
        is the commit's immutable data dir."""
        troot = os.path.join(base, "tables", k)
        versions[k] = commit_version(df, troot)
        man = read_manifest(troot, versions[k])
        paths[k] = os.path.join(troot, man["data_dir"])

    paths: dict[str, str] = {}

    # per-doc annotations (stage-1 record)
    write_parquet(annotate_documents(spread(standing)), "ann")
    ann = spark.read.parquet(paths["ann"])

    # exact-dedup index + rep-level MinHash signature index. The LSH
    # postings are over exact-group REPRESENTATIVES (the flagship's
    # pre_exact_dedup=True posture), so bucket sizes — what the cap
    # reads — are group-level and a batch doc joining an existing
    # group adds NO posting.
    write_parquet(exact_fingerprint_index(standing), "fps")
    write_parquet(
        standing.select(
            fingerprint("text").alias("fp"), "doc_id"
        ),
        "fp_members",
    )
    reps = exact_dup_representatives(standing)
    bands, shingles = minhash_signature_index(reps)
    write_parquet(bands, "bands")
    write_parquet(shingles, "shingles")
    bands = spark.read.parquet(paths["bands"])
    write_parquet(
        bands.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "bucket_sizes",
    )

    # duplicate-edge table (the artifact forget/splice re-reads) and
    # cluster labels — flagship edge recipe: capped MinHash ∪ exact
    near = minhash_candidates(
        standing, bucket_cap=MINHASH_BUCKET_CAP, pre_exact_dedup=True
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    write_parquet(near.select("doc_a", "doc_b"), "mh_edges")
    write_parquet(
        exact_dup_edges(standing).select("doc_a", "doc_b"),
        "exact_edges",
    )
    mh_edges = spark.read.parquet(paths["mh_edges"])
    exact_edges = spark.read.parquet(paths["exact_edges"])
    comps = connected_components(mh_edges.unionByName(exact_edges))
    labels = (
        standing.select(F.col("doc_id").alias("node"))
        .join(comps, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
    write_parquet(labels, "labels")
    labels = spark.read.parquet(paths["labels"])

    # decontamination indexes: per-gram occurrence counts (the df-cap
    # statistic — additive), distinct (g, doc_id) postings (how a new
    # eval gram finds old corpus docs), the bench gram set, and the
    # standing hit pairs
    is_eval = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
    cg = decon_grams(standing.filter(~is_eval), DECON_K)
    write_parquet(
        cg.groupBy("g").agg(F.count(F.lit(1)).alias("occ")),
        "decon_counts",
    )
    write_parquet(
        cg.select("g", "doc_id").distinct(), "decon_postings"
    )
    bg = (
        decon_grams(standing.filter(is_eval), DECON_K)
        .select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_eval"))
    )
    write_parquet(bg, "bench_grams")
    counts = spark.read.parquet(paths["decon_counts"])
    postings = spark.read.parquet(paths["decon_postings"])
    bench = spark.read.parquet(paths["bench_grams"]).select("g")
    hits = (
        postings.join(
            counts.filter(F.col("occ") <= DECON_DF_CAP).select("g"), "g"
        )
        .join(bench, "g")
        .select("doc_id", "g")
        .distinct()
    )
    write_parquet(hits, "decon_hits")

    # standing selection + scrub artifacts over the selected set
    contaminated = (
        spark.read.parquet(paths["decon_hits"]).select("doc_id").distinct()
    )
    sel = _llm_selection(ann, labels, contaminated)
    write_parquet(sel, "sel")
    sel = spark.read.parquet(paths["sel"])
    sel_docs = standing.join(sel, "doc_id")
    spost = _doc_grams(spread(sel_docs), SPAN_GRAM)
    write_parquet(spost, "scrub_postings")
    spost = spark.read.parquet(paths["scrub_postings"])
    owners = (
        spost.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") >= 2)
        .select("gh", "owner")
    )
    cut = spost.join(owners, "gh").filter(
        F.col("doc_id") != F.col("owner")
    ).select("doc_id", "pos")
    write_parquet(cut, "cut")
    cut = spark.read.parquet(paths["cut"])
    scr = apply_cut_positions(sel_docs, cut, SPAN_GRAM)
    write_parquet(scr.select("doc_id", "n_tokens_kept"), "skept")
    write_parquet(_scrub_wordcounts(scr), "dwc")

    # raw word-frequency table (the BPE trainer's sufficient statistic)
    write_parquet(bpe_word_table(spread(standing)), "rwf")

    return versions, paths


PREPARES["llm_dataset_new_batch"] = _prepare_llm_standing
PREPARES["llm_dataset_forget"] = _prepare_llm_standing_full


@query("llm_dataset_new_batch", _llm_dataset_build_oracle())
def q_llm_dataset_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dataset build: merge the 10% ingest batch into the
    persisted standing artifacts (PREPARES fixture — owned across
    ingests in production) and emit the SAME verified dump as the
    from-scratch flagship, whose oracle this query hash-matches.

    Text-scale work in the timed body touches ONLY the batch plus
    provably-affected standing docs:

    1. annotate the batch (map-only, batch-sized);
    2. exact dedup — batch fingerprints probe the index; edges attach
       batch docs to their standing group (and to each other). Full
       recompute may pick a different group REPRESENTATIVE (a batch
       id below the standing min), but exact edges keep every member
       connected, and only COMPONENTS feed the keep decision — so the
       spliced graph is component-identical by construction;
    3. MinHash — only NEW fingerprint groups sign (a batch doc whose
       text already exists adds no posting, keeping bucket sizes
       group-level); incremental candidates cap on UNION bucket
       sizes == the full-corpus capped pair set restricted to the
       batch. Standing pairs whose every supporting bucket crossed
       the cap at union time are RETRACTED (sizes only grow, so
       overfull is the only transition) — found by re-pairing members
       of newly-overfull buckets (≤ cap² each) and checking for a
       surviving below-cap band;
    4. clusters — operators/clusters.py::splice_cluster_edges rebuilds
       ONLY affected components from the persisted edge table (real
       edges, not star edges: a retracted edge may split);
    5. decontamination — gram occurrence counts are additive; grams
       crossing DECON_DF_CAP retract their standing hits, batch corpus
       grams probe the (grown) bench gram set, batch BENCH grams probe
       the standing postings index. The corpus is never re-grammed;
    6. selection re-evaluates from metadata only (annotations, spliced
       labels, updated contamination) — no text;
    7. scrub — postings of deselected docs anti-join away, added docs
       gram in; ownership re-derives from the postings (hash-scale
       groupBy — the scrub_from_postings transfer law); docs whose cut
       set CHANGED (symmetric diff vs the standing cut table) are the
       only ones re-scrubbed and re-word-counted;
    8. tokenizer — raw word counts merge additively and
       bpe_train_merges_from_words retrains the EXACT full-corpus
       merges at vocab scale; every doc re-prices via one
       (doc_id, word, cnt) ⋈ (word, n_syms) join — no text;
    9. the flagship's verbatim _shard_pack_plan tail + manifest-
       verified export, read back so the hash covers what a trainer
       loads.

    Oracle: w10._llm_dataset_build_oracle() — the FULL-corpus
    from-scratch chain. Hash match == splice ≡ rebuild."""
    from ..operators.textanalysis import bpe_word_table

    paths = _prepare_llm_standing(spark, sf_dir)
    from ..sources.parquet import read_parquet_immutable

    def rd(p):
        return read_parquet_immutable(spark, p)
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.sampling import hash_bucket

    batch = docs.filter(hash_bucket("doc_id") < NEW_BATCH_PCT)

    from ..operators.concurrency import run_concurrent
    from ..operators.textanalysis import bpe_train_merges_from_words

    # Stages 1-7 (selection splice + scrub splice) and stage 8's
    # tokenizer retrain share only the batch: the retrain consumes the
    # spliced word table (standing rwf + batch counts), no splice
    # output — so the vocab-scale collect + driver-local training runs
    # CONCURRENTLY with the splice cascade (guide §2.6) and its cost
    # hides entirely under the splice's jobs.
    def _branch_splice():
        # 1-6. selection splice (shared with llm_dataset_merge_only);
        # the delta dict hands the batch-bounded added/removed frames
        # to the scrub splice so no stage re-derives them corpus-wide
        dlt: dict = {}
        sel_new = _splice_selection(spark, docs, paths, batch, delta=dlt)

        # 7. scrub splice (shared stage helper)
        skept_new, dwc_new, _, _ = _scrub_splice(
            spark, docs, paths, rd(paths["sel"]), sel_new, delta=dlt
        )
        return skept_new, dwc_new

    def _branch_tokenizer():
        # 8a. tokenizer retrain from merged word counts
        rwf_union = (
            rd(paths["rwf"])
            .unionByName(bpe_word_table(spread(batch)))
            .groupBy("word")
            .agg(F.sum("n").alias("n"))
            .transform(materialize)
        )
        return rwf_union, bpe_train_merges_from_words(rwf_union, BPE_MERGES)

    (skept_new, dwc_new), (rwf_union, merges) = run_concurrent(
        _branch_splice, _branch_tokenizer
    )

    # 8b. per-doc re-price under the retrained tokenizer
    tokd = _retrain_and_reprice(rwf_union, skept_new, dwc_new, merges=merges)

    # 9. flagship tail: shard/pack plan + verified export + read-back
    return _export_verified(spark, tokd, "llm_increment")


def _splice_selection(spark, docs, paths, batch, arts=None, delta=None):
    """Stages 1-6 of the incremental build (annotations / exact /
    MinHash / clusters / decontamination splices → re-evaluated
    selection), shared verbatim by llm_dataset_new_batch and
    llm_dataset_merge_only — see q_llm_dataset_new_batch's stage
    docstring for the per-stage laws. Returns sel_new (doc_id) in
    pass-through ∪ delta form.

    STANDING-CORPUS-INDEPENDENT shape (VERDICT r15 #1): every standing
    index is only SCANNED — probed with a broadcast of a batch-bounded
    frame — never re-aggregated, re-distinct-ed or outer-joined
    corpus-wide. The r15 scale grid showed the previous formulation's
    fixed-500-doc splice growing 1.74× when the standing corpus grew
    100×; per-stage attribution traced it to exactly the corpus-∝
    shuffles this rewrite removes (full bucket-size regroup, full
    occ-union regroup, corpus-wide contaminated distinct, full
    ann⋈labels selection join). Selection re-evaluates ONLY over A —
    the docs whose selection inputs can have changed: the batch, the
    relabelled nodes of affected components, and docs whose
    contamination flag flipped; every other doc's sel_old row passes
    through (its annotations, component and contamination are
    bit-identical, so the full re-evaluation would reproduce it).
    Broadcast hints encode the splice contract: batch ≪ standing
    corpus (SCALING.md).

    ``arts`` (optional dict) receives the UPDATED standing-artifact
    frames the splice implies — what the streaming dataset-increment
    sink (streaming/dataset_increment.py) commits back as the next
    catalog generation so the following micro-batch splices against
    them; each is in pass-through ∪ delta form too. ``delta``
    (optional dict) receives the batch-bounded frames `_scrub_splice`
    needs (``A``, ``sel_cand``, ``added``, ``removed``). ``paths``
    values may be parquet paths OR already-resolved DataFrames (the
    streaming sink passes schema-safe read_catalog_table frames, so an
    empty member round-trips)."""
    from ..operators.clusters import splice_cluster_edges
    from ..operators.dedup import (
        capped_pair_retractions,
        fingerprint,
        incremental_minhash_candidates,
        minhash_signature_index,
    )
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import annotate_documents, decon_grams

    def rd(x):
        if isinstance(x, DataFrame):
            return x
        from ..sources.parquet import read_parquet_immutable

        return read_parquet_immutable(spark, x)

    from ..operators.concurrency import ckpt_wave, run_concurrent

    bc = F.broadcast

    # Stage graph (guide §2.6): stages 2-4 (exact/MinHash/cluster
    # splice) and stage 5 (decon splice) share only the batch — two
    # independent branches whose driver-sequenced checkpoint cascades
    # run concurrently below; within each branch, sibling frames
    # checkpoint in waves. Frames and their plans are IDENTICAL to the
    # sequential form — only the scheduling overlaps.

    # 1+seeds wave: annotations (stage 1), the fingerprint-probe frame
    # (stage 2 — three consumers: exact edges, new-group filter ×2),
    # and the two decon gram tables (stage 5) are mutually independent
    fp_new = batch.withColumn("fp", fingerprint("text")).select("fp", "doc_id")
    idx_hits = (
        rd(paths["fps"])
        .join(bc(fp_new.select("fp").distinct()), "fp")
        .select("fp", F.col("doc_id").alias("idx_rep"))
    )
    batch_rep = fp_new.groupBy("fp").agg(F.min("doc_id").alias("batch_rep"))
    is_eval = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
    ann_batch, fx, cg_b, bgp_b = ckpt_wave(
        annotate_documents(spread(batch)),
        fp_new.join(batch_rep, "fp").join(bc(idx_hits), "fp", "left"),
        decon_grams(batch.filter(~is_eval), DECON_K),
        decon_grams(batch.filter(is_eval), DECON_K)
        .select("g", "doc_id")
        .distinct(),
    )
    bands = rd(paths["bands"])

    def _branch_dedup():
        # 2. exact-dedup probe → connecting edges (fingerprint index
        # SCANNED via broadcast probe, never shuffled)
        exact_new_p = (
            fx.filter(F.col("idx_rep").isNotNull())
            .select(
                F.least("idx_rep", "doc_id").alias("doc_a"),
                F.greatest("idx_rep", "doc_id").alias("doc_b"),
            )
            .unionByName(
                fx.filter(F.col("doc_id") != F.col("batch_rep")).select(
                    F.col("batch_rep").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                )
            )
            .distinct()
        )

        # 3. MinHash: sign only NEW fingerprint groups; cap on union
        # sizes read from the STORED bucket-size table (the fast path —
        # no corpus-wide size regroup)
        new_group_docs = batch.join(
            fx.filter(
                F.col("idx_rep").isNull()
                & (F.col("doc_id") == F.col("batch_rep"))
            ).select("doc_id"),
            "doc_id",
        )
        nb0, ns0 = minhash_signature_index(new_group_docs)
        # fan-outs: exact_new → label splice ×2 + arts; nb → probe,
        # retract, arts; ns → verify probe, arts
        exact_new, nb, ns = ckpt_wave(exact_new_p, nb0, ns0)
        near_new_p = incremental_minhash_candidates(
            new_group_docs,
            bands,
            rd(paths["shingles"]),
            bucket_cap=MINHASH_BUCKET_CAP,
            new_index=(nb, ns),
            index_bucket_sizes=rd(paths["bucket_sizes"]),
        ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)

        # 3b. retract standing pairs whose every supporting bucket
        # crossed the cap at union time (operators/dedup.py::
        # capped_pair_retractions — sizes only grow, so this is the one
        # possible standing-pair transition)
        removed_mh_p = capped_pair_retractions(
            bands,
            rd(paths["bucket_sizes"]),
            nb,
            rd(paths["mh_edges"]),
            MINHASH_BUCKET_CAP,
        )
        # fan-out: label splice ×2 + arts (each)
        near_new, removed_mh = ckpt_wave(near_new_p, removed_mh_p)

        # 4. affected-component relabel from the persisted edge table;
        # the delta out-param hands back exactly the rows that may
        # differ
        lbl_delta: dict = {}
        labels_new = splice_cluster_edges(
            rd(paths["labels"]),
            rd(paths["mh_edges"]).unionByName(rd(paths["exact_edges"])),
            new_edges=near_new.select("doc_a", "doc_b").unionByName(exact_new),
            removed_edges=removed_mh,
            new_nodes=batch.select(F.col("doc_id").alias("node")),
            delta=lbl_delta,
        )
        # relabelled: checkpointed by the splice
        return exact_new, nb, ns, near_new, removed_mh, labels_new, lbl_delta[
            "relabelled"
        ]

    def _branch_decon():
        # 5. decontamination splice: union occurrence counts evaluated
        # for the batch-probed grams alone (a gram the batch never
        # touched cannot change over-ness, gain a hit, or lose one)
        occ_b, bg_b = ckpt_wave(
            cg_b.groupBy("g").agg(F.count(F.lit(1)).alias("n_new")),
            bgp_b.select("g").distinct(),
        )
        (probe_g,) = ckpt_wave(
            occ_b.select("g").unionByName(bg_b).distinct()
        )
        std_cnt = rd(paths["decon_counts"]).join(bc(probe_g), "g")
        (occ_probe,) = ckpt_wave(
            probe_g.join(bc(std_cnt), "g", "left")
            .join(bc(occ_b), "g", "left")
            .select(
                "g",
                F.coalesce(F.col("occ"), F.lit(0)).alias("occ_std"),
                (
                    F.coalesce(F.col("occ"), F.lit(0))
                    + F.coalesce(F.col("n_new"), F.lit(0))
                ).alias("occ_union"),
            )
        )
        # bench_hit: bench membership of the probed grams (scan); eval
        # grams NEW to the bench set find standing postings without
        # re-deriving rows the standing hit table already holds
        newly_over, over_probe, bench_hit = ckpt_wave(
            occ_probe.filter(
                (F.col("occ_std") <= DECON_DF_CAP)
                & (F.col("occ_union") > DECON_DF_CAP)
            ).select("g"),
            occ_probe.filter(F.col("occ_union") > DECON_DF_CAP).select("g"),
            rd(paths["bench_grams"]).join(bc(probe_g), "g").select("g"),
        )
        new_bench_g = bg_b.join(bc(bench_hit), "g", "left_anti")
        # fan-out: Δ, contaminated_A, arts (each)
        hits_batch, hits_std_new = ckpt_wave(
            cg_b.select("doc_id", "g")
            .distinct()
            .join(bc(over_probe), "g", "left_anti")
            .join(bc(bench_hit.unionByName(bg_b)), "g", "left_semi"),
            rd(paths["decon_postings"])
            .join(bc(new_bench_g), "g", "left_semi")
            .join(bc(over_probe), "g", "left_anti")
            .select("doc_id", "g"),
        )
        # standing hits never hold an over-cap gram (fixture
        # construction; preserved inductively by this very splice), so
        # the retraction set is exactly the newly-over grams' standing
        # hits
        hits_rm_std = rd(paths["decon_hits"]).join(
            bc(newly_over), "g", "left_semi"
        )
        contam_delta_docs = (
            hits_batch.select("doc_id")
            .unionByName(hits_std_new.select("doc_id"))
            .unionByName(hits_rm_std.select("doc_id"))
            .distinct()
        )
        return (
            bg_b,
            probe_g,
            occ_probe,
            newly_over,
            hits_batch,
            hits_std_new,
            contam_delta_docs,
        )

    (
        (exact_new, nb, ns, near_new, removed_mh, labels_new, relabelled),
        (
            bg_b,
            probe_g,
            occ_probe,
            newly_over,
            hits_batch,
            hits_std_new,
            contam_delta_docs,
        ),
    ) = run_concurrent(_branch_dedup, _branch_decon)

    # 6. selection re-evaluation over A only + pass-through
    A = (
        batch.select("doc_id")
        .unionByName(relabelled.select(F.col("node").alias("doc_id")))
        .unionByName(contam_delta_docs)
        .distinct()
        .transform(materialize)
    )
    ann_A = rd(paths["ann"]).join(bc(A), "doc_id").unionByName(ann_batch)
    labels_A = relabelled.unionByName(
        rd(paths["labels"]).join(
            bc(
                A.select(F.col("doc_id").alias("node")).join(
                    relabelled.select("node"), "node", "left_anti"
                )
            ),
            "node",
            "left_semi",
        )
    )
    a_std_hits = (
        rd(paths["decon_hits"])
        .join(bc(A), "doc_id", "left_semi")
        .join(bc(newly_over), "g", "left_anti")
    )
    contaminated_A = (
        a_std_hits.select("doc_id")
        .unionByName(hits_batch.select("doc_id"))
        .unionByName(hits_std_new.select("doc_id"))
        .distinct()
    )
    sel_old = rd(paths["sel"])
    sel_cand, sel_old_A = ckpt_wave(
        _llm_selection(ann_A, labels_A, contaminated_A),
        sel_old.join(bc(A), "doc_id", "left_semi"),
    )
    sel_new = sel_old.join(bc(A), "doc_id", "left_anti").unionByName(sel_cand)
    if delta is not None:
        delta["A"] = A
        delta["sel_cand"] = sel_cand
        delta["added"] = sel_cand.join(bc(sel_old_A), "doc_id", "left_anti")
        delta["removed"] = sel_old_A.join(bc(sel_cand), "doc_id", "left_anti")
    if arts is not None:
        # the updated standing artifacts this splice implies — each is
        # the law its sibling *_new_batch query proves: splice ≡ the
        # from-scratch artifact over corpus ∪ batch — in pass-through ∪
        # delta form (anti-joins broadcast the batch-bounded side, so
        # committing an artifact costs one scan + the delta)
        arts["ann"] = rd(paths["ann"]).unionByName(ann_batch)
        arts["fps"] = rd(paths["fps"]).unionByName(
            fx.filter(
                F.col("idx_rep").isNull()
                & (F.col("doc_id") == F.col("batch_rep"))
            ).select("fp", "doc_id")
        )
        arts["fp_members"] = rd(paths["fp_members"]).unionByName(fp_new)
        arts["bands"] = bands.unionByName(nb)
        arts["shingles"] = rd(paths["shingles"]).unionByName(ns)
        nb_sizes = nb.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("n_new")
        )
        std_sizes_aff = rd(paths["bucket_sizes"]).join(
            bc(nb_sizes.select("band_idx", "band_key")),
            ["band_idx", "band_key"],
        )
        arts["bucket_sizes"] = (
            rd(paths["bucket_sizes"])
            .join(
                bc(nb_sizes.select("band_idx", "band_key")),
                ["band_idx", "band_key"],
                "left_anti",
            )
            .unionByName(
                nb_sizes.join(std_sizes_aff, ["band_idx", "band_key"], "left")
                .select(
                    "band_idx",
                    "band_key",
                    (
                        F.coalesce(F.col("n"), F.lit(0)) + F.col("n_new")
                    ).alias("n"),
                )
            )
        )
        arts["mh_edges"] = (
            rd(paths["mh_edges"])
            .join(bc(removed_mh), ["doc_a", "doc_b"], "left_anti")
            .unionByName(near_new.select("doc_a", "doc_b"))
        )
        arts["exact_edges"] = rd(paths["exact_edges"]).unionByName(exact_new)
        arts["labels"] = labels_new
        arts["decon_counts"] = (
            rd(paths["decon_counts"])
            .join(bc(probe_g), "g", "left_anti")
            .unionByName(
                occ_probe.filter(F.col("occ_union") > 0).select(
                    "g", F.col("occ_union").alias("occ")
                )
            )
        )
        arts["decon_postings"] = rd(paths["decon_postings"]).unionByName(
            cg_b.select("g", "doc_id").distinct()
        )
        n_eval_b = bgp_b.groupBy("g").agg(F.count(F.lit(1)).alias("n_b"))
        std_bench_b = rd(paths["bench_grams"]).join(bc(bg_b), "g")
        arts["bench_grams"] = (
            rd(paths["bench_grams"])
            .join(bc(bg_b), "g", "left_anti")
            .unionByName(
                n_eval_b.join(std_bench_b, "g", "left").select(
                    "g",
                    (
                        F.coalesce(F.col("n_eval"), F.lit(0)) + F.col("n_b")
                    ).alias("n_eval"),
                )
            )
        )
        # disjoint by construction: standing minus retractions (batch
        # docs are new; re-derived standing rows are restricted to
        # grams NEW to the bench set) — no corpus-wide distinct
        arts["decon_hits"] = (
            rd(paths["decon_hits"])
            .join(bc(newly_over), "g", "left_anti")
            .select("doc_id", "g")
            .unionByName(hits_batch.select("doc_id", "g"))
            .unionByName(hits_std_new)
        )
        arts["sel"] = sel_new
    return sel_new


# ---------------------------------------------------------------------------
# Right-to-be-forgotten for the WHOLE dataset build — the inverse pass
# completing the lifecycle triad (build / new_batch / forget), composing
# the per-index forget queries the same way new_batch composes the
# per-index merges. Deletion reverses every cap transition: LSH buckets
# SHRINK below their cap (suppressed pairs reappear), decon gram
# occurrences fall back under DECON_DF_CAP (new contamination hits
# appear), bench grams can vanish (hits disappear), exact-group
# representatives transfer to the next-min survivor, cluster components
# can SPLIT at deleted cut vertices, and the tokenizer retrains on the
# shrunken word counts. Oracle: the flagship SQL verbatim with the
# corpus replaced by a kept-docs CTE — hash match proves
# forget ≡ rebuild-without-the-deleted.
# ---------------------------------------------------------------------------
LLM_FORGET_PCT = 5  # doc ids with hash bucket (salt 'forget') < 5 deleted


def _llm_forget_oracle() -> str:
    import re

    base = _llm_dataset_build_oracle()
    filtered = re.sub(r"\bdocuments\b", "kept_docs", base)
    head = "\n    WITH RECURSIVE "
    assert filtered.startswith(head)
    kept = (
        "kept_docs AS (SELECT * FROM documents WHERE "
        f"{sql_hash_bucket('doc_id', salt='forget')} >= {LLM_FORGET_PCT}),\n    "
    )
    return head + kept + filtered[len(head):]


@query("llm_dataset_forget", _llm_forget_oracle())
def q_llm_dataset_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete a 5% hash-selected doc set from the FULL-corpus standing
    artifacts (PREPARES fixture) and emit the dump a from-scratch
    build over the surviving corpus would produce — the GDPR pass for
    the entire pipeline, cost ∝ deleted + affected, never the corpus:

    1. annotations: deleted rows anti-join away;
    2. exact groups: the deleted docs' fingerprints (recomputed from
       the deleted TEXT only) name the affected groups; the
       representative transfers to the min survivor, postings RENAME
       (bucket sizes unchanged) or DROP (group extinct — sizes
       shrink), and group edges rebuild around the new rep;
    3. MinHash: buckets whose size falls back to ≤ cap re-pair their
       surviving members (≤ cap² each) and verify exact Jaccard on
       the stored shingle hashes — the pairs the cap had suppressed;
       standing pairs remap through the rep transfer and pairs of
       extinct groups drop. Surviving pairs stay valid for free:
       sizes only shrink, so their supporting buckets remain under
       cap;
    4. clusters: affected components (deleted members, new-pair
       endpoints) rebuild from the updated REAL edge table — a
       deleted cut vertex splits its component
       (operators/clusters.py::forget_documents law);
    5. decontamination: occurrence counts decrement by the deleted
       docs' grams; newly-under-cap grams probe the surviving
       postings × surviving bench grams (bench-gram doc counts
       decrement, zero-count grams leave); hits of deleted docs and
       vanished bench grams drop;
    6. selection re-evaluates from metadata over A_f = deleted ∪
       relabelled ∪ contamination-flipped docs ONLY (the
       standing-corpus-independent form of the ingest splice — every
       other doc's sel_old row passes through, standing tables are
       only scanned via broadcast probes); 7. the shared scrub splice
       (delta-fed) re-scrubs only cut-set-changed docs; 8. word counts
       SUBTRACT (disjointness makes the inverse exact) and the
       tokenizer retrains at vocab scale; 9. flagship verified-export
       tail.

    Oracle: flagship SQL over the kept corpus. Hash match ==
    forget ≡ rebuild."""
    from ..operators.clusters import connected_components
    from ..operators.concurrency import ckpt_wave, run_concurrent
    from ..operators.dedup import bucket_underflow_candidates, fingerprint
    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import (
        bpe_train_merges_from_words,
        bpe_word_table,
        decon_grams,
    )

    paths = _prepare_llm_standing_full(spark, sf_dir)
    from ..sources.parquet import read_parquet_immutable

    def rd(p):
        return read_parquet_immutable(spark, p)
    docs = load_table(spark, sf_dir, "documents")
    is_del = hash_bucket("doc_id", salt="forget") < LLM_FORGET_PCT
    deleted = docs.filter(is_del)
    del_ids = deleted.select("doc_id").transform(materialize)
    bc = F.broadcast

    # 1. annotations need no materialized splice: deletion only REMOVES
    # rows, and the A_f-scoped selection (stage 6) probes the standing
    # table for surviving docs only

    # Branch graph (guide §2.6): stages 2-4 (exact-group repair /
    # MinHash underflow / affected-component relabel), stage 5 (the
    # decon inverse) and stage 8a (tokenizer retrain on the shrunken
    # word table) depend only on the deletion set — three independent
    # branches whose driver-sequenced checkpoint cascades overlap.
    # Frames and plans are identical to the sequential form.
    def _branch_graph():
        # 2. exact groups: affected fps from the deleted docs' text only
        members = rd(paths["fp_members"])
        aff_fp = (
            deleted.select(fingerprint("text").alias("fp")).distinct()
        )
        # consumers: old_rep, surv_aff (member index scan ×1)
        aff_members = members.join(bc(aff_fp), "fp", "left_semi").transform(materialize)
        old_rep = aff_members.groupBy("fp").agg(F.min("doc_id").alias("old_rep"))
        surv_aff = aff_members.join(del_ids, "doc_id", "left_anti")
        new_rep = surv_aff.groupBy("fp").agg(F.min("doc_id").alias("new_rep"))
        rep_map = old_rep.join(new_rep, "fp", "left").transform(materialize)
        renames = rep_map.filter(
            F.col("new_rep").isNotNull() & (F.col("old_rep") != F.col("new_rep"))
        )
        vanished = rep_map.filter(F.col("new_rep").isNull()).select(
            F.col("old_rep").alias("doc_id")
        )

        def _remap_posts(df):
            # deletion-bounded probes: the posting index is only scanned
            return (
                df.join(bc(vanished), "doc_id", "left_anti")
                .join(
                    bc(
                        renames.select(
                            F.col("old_rep").alias("doc_id"), "new_rep"
                        )
                    ),
                    "doc_id",
                    "left",
                )
                .withColumn("doc_id", F.coalesce("new_rep", "doc_id"))
                .drop("new_rep")
            )

        bands_new = _remap_posts(rd(paths["bands"])).transform(materialize)
        sh_new = _remap_posts(rd(paths["shingles"]))

        ex = rd(paths["exact_edges"])
        ex_alive = ex.join(
            bc(del_ids.withColumnRenamed("doc_id", "doc_a")), "doc_a", "left_anti"
        ).join(
            bc(del_ids.withColumnRenamed("doc_id", "doc_b")), "doc_b", "left_anti"
        )
        rebuilt = (
            surv_aff.join(
                renames.select("fp", "new_rep"), "fp"
            )
            .filter(F.col("doc_id") != F.col("new_rep"))
            .select(F.col("new_rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
        exact_edges_new = ex_alive.unionByName(rebuilt)

        # 3. suppressed pairs reappear where buckets fall back under cap
        # (operators/dedup.py::bucket_underflow_candidates — sizes only
        # shrink, so this is the one possible standing-pair transition)
        add_cand = bucket_underflow_candidates(
            bands_new,
            rd(paths["bucket_sizes"]),
            rd(paths["bands"]).join(bc(vanished), "doc_id", "left_semi"),
            MINHASH_BUCKET_CAP,
        ).transform(materialize)  # consumers: cand-id probe + verify join
        jac = F.size(F.array_intersect("hs_a", "hs_b")) / F.size(
            F.array_union("hs_a", "hs_b")
        ).cast("double")
        # candidate-bounded shingle verify: only candidate ids' stored
        # hashes leave the (remapped) shingle-index scan
        ac_ids = (
            add_cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(add_cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh_cand = sh_new.join(bc(ac_ids), "doc_id", "left_semi").transform(materialize)
        added_mh = (
            add_cand.join(
                bc(
                    sh_cand.select(
                        F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")
                    )
                ),
                "doc_a",
            )
            .join(
                bc(
                    sh_cand.select(
                        F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")
                    )
                ),
                "doc_b",
            )
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b")
            .transform(materialize)
        )

        mh = rd(paths["mh_edges"])
        mh2 = (
            mh.join(
                bc(vanished.withColumnRenamed("doc_id", "doc_a")), "doc_a", "left_anti"
            )
            .join(
                bc(vanished.withColumnRenamed("doc_id", "doc_b")), "doc_b", "left_anti"
            )
            .join(
                bc(
                    renames.select(
                        F.col("old_rep").alias("doc_a"), F.col("new_rep").alias("ra")
                    )
                ),
                "doc_a",
                "left",
            )
            .join(
                bc(
                    renames.select(
                        F.col("old_rep").alias("doc_b"), F.col("new_rep").alias("rb")
                    )
                ),
                "doc_b",
                "left",
            )
            .select(
                F.least(
                    F.coalesce("ra", F.col("doc_a")), F.coalesce("rb", F.col("doc_b"))
                ).alias("doc_a"),
                F.greatest(
                    F.coalesce("ra", F.col("doc_a")), F.coalesce("rb", F.col("doc_b"))
                ).alias("doc_b"),
            )
        )
        mh_edges_new = mh2.unionByName(added_mh)
        edges_new = mh_edges_new.unionByName(exact_edges_new)

        # 4. affected-component relabel over surviving members
        labels = rd(paths["labels"])
        touched = (
            del_ids.withColumnRenamed("doc_id", "node")
            .unionByName(added_mh.select(F.col("doc_a").alias("node")))
            .unionByName(added_mh.select(F.col("doc_b").alias("node")))
            .distinct()
            .transform(materialize)
        )
        # deletion-bounded probes of the label scan, never a shuffle of it
        affected_comps = (
            labels.join(bc(touched), "node")
            .select("component")
            .distinct()
            .transform(materialize)
        )
        affected = labels.join(bc(affected_comps), "component")
        survivors_aff = affected.select("node").join(
            bc(del_ids.withColumnRenamed("doc_id", "node")), "node", "left_anti"
        ).transform(materialize)
        # materialize the (affected-size) subgraph before the iterative
        # re-label — connected_components re-joins its edges every round
        sub_edges = (
            edges_new.join(
                bc(survivors_aff.withColumnRenamed("node", "doc_a")),
                "doc_a",
                "left_semi",
            )
            .join(
                bc(survivors_aff.withColumnRenamed("node", "doc_b")),
                "doc_b",
                "left_semi",
            )
            .transform(materialize)
        )
        sub_labels = connected_components(sub_edges, "doc_a", "doc_b")
        relabelled = (
            survivors_aff.join(sub_labels, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("component"), F.col("node")).alias("component"),
            )
            .transform(materialize)  # consumers: A_f, labels_A probe
        )
        return relabelled

    def _branch_decon():
        # 5. decontamination inverse
        is_eval = hash_bucket("doc_id", salt="eval") < DECON_EVAL_PCT
        del_cg = decon_grams(deleted.filter(~is_eval), DECON_K)
        del_bg = decon_grams(deleted.filter(is_eval), DECON_K)
        # occurrence counts can only change for grams the DELETED docs
        # held, so the count/bench/posting indexes are only SCANNED,
        # probed by broadcast-small deletion-touched gram sets
        del_cnt = del_cg.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_del")
        ).transform(materialize)
        std_cnt_del = rd(paths["decon_counts"]).join(bc(del_cnt.select("g")), "g")
        newly_under_g = (
            del_cnt.join(bc(std_cnt_del), "g", "left")
            .select(
                "g",
                F.coalesce(F.col("occ"), F.lit(0)).alias("occ_std"),
                (F.coalesce(F.col("occ"), F.lit(0)) - F.col("n_del")).alias(
                    "occ_new"
                ),
            )
            .filter(
                (F.col("occ_std") > DECON_DF_CAP)
                & (F.col("occ_new") <= DECON_DF_CAP)
                & (F.col("occ_new") > 0)
            )
            .select("g")
            .transform(materialize)
        )
        # bench grams only SHRINK under deletion: the vanished set (eval
        # doc-count decremented to zero) is deletion-bounded, and standing
        # hits' grams are standing-bench by construction, so
        # ⋉ surviving-bench ≡ anti vanished-bench
        del_bg_cnt = (
            del_bg.select("g", "doc_id")
            .distinct()
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n_del"))
            .transform(materialize)
        )
        std_bench_del = rd(paths["bench_grams"]).join(
            bc(del_bg_cnt.select("g")), "g"
        )
        vanished_bench = (
            del_bg_cnt.join(bc(std_bench_del), "g", "left")
            .filter(
                F.coalesce(F.col("n_eval"), F.lit(0)) - F.col("n_del") <= 0
            )
            .select("g")
            .transform(materialize)
        )
        under_bench = (
            rd(paths["bench_grams"])
            .join(bc(newly_under_g), "g", "left_semi")
            .select("g")
            .join(bc(vanished_bench), "g", "left_anti")
        )
        hits_back = (
            rd(paths["decon_postings"])
            .join(bc(under_bench), "g", "left_semi")
            .join(bc(del_ids), "doc_id", "left_anti")
            .select("doc_id", "g")
            .transform(materialize)  # consumers: Δ docs, contaminated_A
        )
        # contamination can flip ONLY for docs gaining a reinstated hit or
        # losing one to a vanished bench gram (a deleted doc's own hits
        # die with it — it leaves the selection through A_f regardless)
        contam_delta_docs = (
            hits_back.select("doc_id")
            .unionByName(
                rd(paths["decon_hits"])
                .join(bc(vanished_bench), "g", "left_semi")
                .select("doc_id")
            )
            .distinct()
        )
        return vanished_bench, hits_back, contam_delta_docs

    def _branch_tokenizer():
        # 8a. word counts SUBTRACT (disjointness makes the inverse
        # exact) and the tokenizer retrains at vocab scale — depends
        # only on the standing word table + deleted docs, so it runs
        # concurrently with the graph/decon branches
        rwf_new = (
            rd(paths["rwf"])
            .unionByName(
                bpe_word_table(spread(deleted)).select(
                    "word", (-F.col("n")).alias("n")
                )
            )
            .groupBy("word")
            .agg(F.sum("n").alias("n"))
            .filter(F.col("n") > 0)
            .transform(materialize)
        )
        return rwf_new, bpe_train_merges_from_words(rwf_new, BPE_MERGES)

    (
        relabelled,
        (vanished_bench, hits_back, contam_delta_docs),
        (rwf_new, merges),
    ) = run_concurrent(_branch_graph, _branch_decon, _branch_tokenizer)
    labels = rd(paths["labels"])


    # 6. selection re-evaluation over A_f only + pass-through (the
    # standing-corpus-independent form of the ingest splice, applied
    # to deletion): A_f = deleted ∪ relabelled ∪ contamination-flipped
    # — any doc outside A_f has bit-identical annotations, component
    # and contamination, so its sel_old row passes through
    A_f = (
        del_ids
        .unionByName(relabelled.select(F.col("node").alias("doc_id")))
        .unionByName(contam_delta_docs)
        .distinct()
        .transform(materialize)
    )
    # the surviving A_f docs the selection re-evaluates
    sel_eval = A_f.join(bc(del_ids), "doc_id", "left_anti").transform(materialize)
    ann_A = rd(paths["ann"]).join(bc(sel_eval), "doc_id", "left_semi")
    labels_A = relabelled.unionByName(
        labels.join(
            bc(
                sel_eval.select(F.col("doc_id").alias("node")).join(
                    relabelled.select("node"), "node", "left_anti"
                )
            ),
            "node",
            "left_semi",
        )
    )
    contaminated_A = (
        rd(paths["decon_hits"])
        .join(bc(sel_eval), "doc_id", "left_semi")
        .join(bc(vanished_bench), "g", "left_anti")
        .select("doc_id")
        .unionByName(
            hits_back.join(bc(sel_eval), "doc_id", "left_semi").select(
                "doc_id"
            )
        )
        .distinct()
    )
    sel_old = rd(paths["sel"])
    sel_cand, sel_old_A = ckpt_wave(
        _llm_selection(ann_A, labels_A, contaminated_A),
        sel_old.join(bc(A_f), "doc_id", "left_semi"),
    )
    sel_new = sel_old.join(bc(A_f), "doc_id", "left_anti").unionByName(sel_cand)
    dlt = {
        "A": A_f,
        "sel_cand": sel_cand,
        "added": sel_cand.join(bc(sel_old_A), "doc_id", "left_anti"),
        "removed": sel_old_A.join(bc(sel_cand), "doc_id", "left_anti"),
    }

    # 7-9: shared scrub / export tail (tokenizer already retrained in
    # _branch_tokenizer, concurrent with the graph/decon branches)
    skept_new, dwc_new, _, _ = _scrub_splice(
        spark, docs, paths, sel_old, sel_new, delta=dlt
    )
    tokd = _retrain_and_reprice(rwf_new, skept_new, dwc_new, merges=merges)
    return _export_verified(spark, tokd, "llm_forget")


# ---------------------------------------------------------------------------
# Merge-only twin of llm_dataset_new_batch (VERDICT r14 #2): the
# 20.9 s end-to-end contract query retrains the tokenizer and re-prices
# the corpus inside the timed body BY CONTRACT (its oracle is the
# full-retrain flagship); what a production operator actually pays per
# ingest is smaller, because a pipeline does NOT retrain its tokenizer
# every batch — it PINS the tokenizer trained on the standing corpus
# and prices new text with it. This query makes that amortized cost
# visible: the pinned merges, the standing-vocab symbol table, and the
# standing per-doc pricing are PREPARES fixtures (owned across
# ingests), and the timed body is batch annotate + index splices +
# changed-doc re-scrub/re-price + the export tail only. The oracle is
# the flagship SQL with the BPE chain trained on the STANDING slice
# and the learned merges applied to the full vocabulary — the exact
# pinned-tokenizer contract, genuinely distinct from the full-retrain
# dump (558 rows differ at sf0.001).
# ---------------------------------------------------------------------------
_LLM_MERGE_FIXTURE: dict[str, dict[str, str]] = {}


def _word_seq_expr():
    """chr(1)-wrapped char-sequence expression over a ``word`` column —
    the bpe_seq_table shape with the word retained (shared by the
    fixture build and the new-word pricing in the timed body)."""
    from ..operators.textanalysis import BPE_SEP

    return F.concat(
        F.lit(BPE_SEP),
        F.concat_ws(BPE_SEP + BPE_SEP, F.split(F.col("word"), "")),
        F.lit(BPE_SEP),
    )


def _n_syms_col():
    return (
        F.size(F.expr("filter(split(seq, char(1)), x -> x <> '')"))
        .cast("bigint")
        .alias("n_syms")
    )


def _prepare_llm_merge_fixture(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """The llm_dataset_new_batch standing artifacts PLUS the pinned
    tokenizer's: the merge list trained on the standing word table
    (persisted as JSON — it is a k-row model), the standing-vocab
    (word, n_syms) symbol table under those merges, and the standing
    selection's per-doc pricing (doc_id, n_tokens_kept, n_bpe). All
    three are what a production pipeline owns between ingests; the
    timed body only reads them. Memoized per (process, sf_dir)."""
    got = _LLM_MERGE_FIXTURE.get(sf_dir)
    if got is not None:
        return got
    import json
    import os

    from ..operators.textanalysis import (
        bpe_apply_merges,
        bpe_train_merges_from_words,
    )
    from ..sources.sinks import write_parquet

    paths = dict(_prepare_llm_standing(spark, sf_dir))
    from ..sources.parquet import read_parquet_immutable

    def rd(p):
        return read_parquet_immutable(spark, p)
    base = _run_scoped_index_dir("llm_merge_fixture")
    merges = bpe_train_merges_from_words(rd(paths["rwf"]), BPE_MERGES)
    paths["merges_json"] = os.path.join(base, "merges.json")
    with open(paths["merges_json"], "w") as f:
        json.dump(merges, f)
    paths["wsym"] = os.path.join(base, "wsym")
    wsym = bpe_apply_merges(
        rd(paths["rwf"]).select("word", _word_seq_expr().alias("seq")), merges
    ).select("word", _n_syms_col())
    write_parquet(wsym, paths["wsym"])
    scount = (
        rd(paths["dwc"])
        .join(rd(paths["wsym"]), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_bpe"))
    )
    tokd_std = rd(paths["skept"]).join(scount, "doc_id", "left").select(
        "doc_id",
        "n_tokens_kept",
        F.coalesce(F.col("n_bpe"), F.lit(0)).cast("bigint").alias("n_bpe"),
    )
    paths["tokd_std"] = os.path.join(base, "tokd_std")
    write_parquet(tokd_std, paths["tokd_std"])
    _LLM_MERGE_FIXTURE[sf_dir] = paths
    return paths


PREPARES["llm_dataset_merge_only"] = _prepare_llm_merge_fixture


def _llm_merge_only_oracle() -> str:
    std = (
        "std_docs AS (SELECT * FROM documents WHERE "
        f"{sql_hash_bucket('doc_id')} >= {NEW_BATCH_PCT}),\n    "
    )
    return _llm_dataset_build_oracle(prelude=std, bpe_src="std_docs")


@query("llm_dataset_merge_only", _llm_merge_only_oracle())
def q_llm_dataset_merge_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized per-ingest dataset-build cost under a PINNED
    tokenizer: standing indexes AND the trained merges / standing-vocab
    symbol table / standing per-doc pricing come pre-built from parquet
    (PREPARES fixture — a pipeline owns them across ingests and does
    not retrain its tokenizer per batch). The timed body pays only
    what every ingest pays:

    1-6. the shared _splice_selection (batch annotate, index probes,
         affected-component relabel, decon splice, metadata-only
         selection re-evaluation);
    7.   the shared _scrub_splice — ONLY cut-set-changed docs re-scrub;
    8.   pricing: changed docs' (word, cnt) join the PERSISTED symbol
         table; words the standing vocabulary never saw get their
         n_syms from one map-only bpe_apply_merges over the new-word
         dimension (batch-scale); every unchanged selected doc's
         (n_tokens_kept, n_bpe) row passes through from the standing
         pricing untouched — no retrain, no corpus re-price;
    9.   the flagship's verbatim export tail (corpus-scale by contract:
         the OUTPUT is the full dump).

    Oracle: the flagship SQL with BPE trained on the standing slice
    (_bpe_ctes src=std_docs) and the learned merges applied to the
    full vocabulary (_bpe_vocab_apply_ctes) — hash match proves the
    splice+passthrough dump ≡ a from-scratch build under the same
    pinned tokenizer."""
    import json

    from ..operators.sampling import hash_bucket
    from ..operators.textanalysis import bpe_apply_merges

    paths = _prepare_llm_merge_fixture(spark, sf_dir)
    from ..sources.parquet import read_parquet_immutable

    def rd(p):
        return read_parquet_immutable(spark, p)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(hash_bucket("doc_id") < NEW_BATCH_PCT)

    # 1-6. shared selection splice (delta dict: batch-bounded
    # added/removed for the scrub splice and the pricing pass-through)
    dlt: dict = {}
    sel_new = _splice_selection(spark, docs, paths, batch, delta=dlt)

    # 7. shared scrub splice; only (changed, scr_changed) are consumed
    _, _, changed, scr_changed = _scrub_splice(
        spark, docs, paths, rd(paths["sel"]), sel_new, delta=dlt
    )

    # 8. pinned-tokenizer pricing of the changed docs only
    with open(paths["merges_json"]) as f:
        merges = json.load(f)
    wsym_std = rd(paths["wsym"])
    dwc_ch = _scrub_wordcounts(scr_changed)
    new_words = (
        dwc_ch.select("word")
        .distinct()
        .join(wsym_std.select("word"), "word", "left_anti")
    )
    wsym_add = bpe_apply_merges(
        new_words.select("word", _word_seq_expr().alias("seq")), merges
    ).select("word", _n_syms_col())
    wsym = wsym_std.unionByName(wsym_add)
    scount_ch = (
        dwc_ch.join(wsym, "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("n_syms")).cast("bigint").alias("n_bpe"))
    )
    tokd_ch = (
        scr_changed.select("doc_id", "n_tokens_kept")
        .join(scount_ch, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_kept",
            F.coalesce(F.col("n_bpe"), F.lit(0)).cast("bigint").alias("n_bpe"),
        )
    )
    # standing pricing covers exactly sel_old's docs, so ⋉ sel_new ≡
    # anti removed — broadcast-probed scan, never a corpus shuffle
    tokd = (
        rd(paths["tokd_std"])
        .join(F.broadcast(dlt["removed"]), "doc_id", "left_anti")
        .join(F.broadcast(changed), "doc_id", "left_anti")
        .unionByName(tokd_ch)
    )

    # 9. flagship verified-export tail
    return _export_verified(spark, tokd, "llm_merge_only")
