"""Text-analysis operators (EXT) — language-ID, quality scoring, token
counting, fingerprinting over a document corpus.

All pure Catalyst array/string expressions (split/filter/size/md5):
no Python UDFs, so a 100 TB documents table is processed entirely in
whole-stage codegen with only the final aggregation shuffling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from ..sources.parquet import spread
from .concurrency import materialize as _materialize

# Tiny per-language stopword lists for the n-gram/stopword-hit
# language-ID heuristic. Deliberately small + deterministic (the
# oracle replicates them verbatim).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "und", "das", "ist", "von", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "en"],
}

STOPWORDS_ALL = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lower-cased text (split on single
    space — the corpus is pre-normalized; swap the pattern for messy
    input)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(t), " ")


def _hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*words)))  # noqa: B023


def lang_scores(toks: Column) -> dict[str, Column]:
    """Stopword-hit score per language."""
    return {lang: _hits(toks, ws) for lang, ws in LANG_STOPWORDS.items()}


def lang_id(toks: Column, default: str = "und") -> Column:
    """Predicted language = argmax stopword hits, fixed priority order
    (en > es > de > fr) on ties; all-zero → ``default``."""
    scores = lang_scores(toks)
    langs = list(LANG_STOPWORDS)
    expr = None
    for lang in langs:
        cond = scores[lang] > 0
        for other in langs:
            if other != lang:
                op = (
                    (scores[lang] >= scores[other])
                    if langs.index(other) > langs.index(lang)
                    else (scores[lang] > scores[other])
                )
                cond = cond & op
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(default))


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish subword proxy: count of maximal runs of word chars /
    digits / single punctuation — a cheap, deterministic token-count
    estimator for budget accounting (regexp on the JVM)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(t), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))


def quality_features(text: Column | str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features used by the
    quality score (mirrors heuristic-filter pipelines à la C4/Gopher)."""
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop_hits = _hits(toks, STOPWORDS_ALL)
    mean_word_len = (n_chars - (n_tok - 1)) / n_tok.cast("double")
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "mean_word_len": mean_word_len,
        "stopword_ratio": stop_hits / n_tok.cast("double"),
        "punct_ratio": (
            F.length(F.regexp_replace(F.lower(t), "[a-z0-9 ]", "")) / n_chars.cast("double")
        ),
    }


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1]-ish quality score: rewards stopword density
    and 3-10 char mean word length, penalizes punctuation soup."""
    f = quality_features(text)
    wl_ok = F.when((f["mean_word_len"] >= 3) & (f["mean_word_len"] <= 10), 1.0).otherwise(0.0)
    score = (
        F.least(f["stopword_ratio"] * 4.0, F.lit(1.0)) * 0.4
        + wl_ok * 0.3
        + (1.0 - F.least(f["punct_ratio"] * 5.0, F.lit(1.0))) * 0.3
    )
    return F.round(score, 4)


def repetition_fraction(text: str, n: int) -> Column:
    """Gopher-style within-document repetition signal: the fraction of
    positional word n-grams that are repeats of an earlier n-gram
    (1 - distinct/total), rounded to 4dp. High values mark looping /
    boilerplate generator output that length or stopword ratios miss.
    Takes the text column NAME (it is spliced into a SQL expression).

    Map-only Catalyst expression; the gram array is bound via a
    ``transform(array(...), g -> ...)`` lambda so it is built ONCE per
    row, not re-evaluated per reference (the repo-wide HOF rule —
    see SCALING.md)."""
    toks = f"split(lower({text}), ' ')"
    grams = (
        f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n})))"
    )
    return F.expr(
        f"element_at(transform(array({grams}), g -> "
        f"round(1.0d - size(array_distinct(g)) / cast(size(g) as double), 4)), 1)"
    )


# PII scrub patterns — deliberately simple and PORTABLE between Java
# regex (Spark) and RE2 (DuckDB oracle): character classes and bounded
# repetition only. A production deployment extends the dict; every
# entry must stay oracle-replicable.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    "phone": (r"[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}", "<PHONE>"),
}


def pii_scrub(
    docs: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> "DataFrame":
    """Redact PII-shaped spans before training-data release: each
    pattern is counted (``n_<kind>``) and replaced with its token in
    ``scrubbed``. Pure JVM regexp expressions — map-only, no shuffle,
    no Python; at 100 TB this runs entirely inside the scan stage.

    Patterns apply in dict order to the previous pattern's output, so
    overlapping kinds behave deterministically on both engines."""
    patterns = PII_PATTERNS if patterns is None else patterns
    t = F.col(text_col)
    counts = []
    scrubbed = t
    for kind, (pat, token) in patterns.items():
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return docs.select(F.col(id_col), *counts, scrubbed.alias("scrubbed"))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lower-cased
    text — stable under spacing/case noise; the exact-dedup key."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(t)), " +", " "))


def annotate_documents(docs: "DataFrame", text_col: str = "text") -> "DataFrame":
    """One-pass document annotation: predicted language, token counts,
    quality score — the per-doc record every curation decision reads.
    Pure Catalyst expressions (no Python), map-only."""
    toks = tokens(text_col)
    feats = quality_features(text_col)
    return docs.select(
        "doc_id",
        lang_id(toks).alias("lang_pred"),
        feats["n_tokens"].cast("bigint").alias("n_tokens"),
        token_count_bpe_ish(text_col).cast("bigint").alias("n_bpe_tokens"),
        quality_score(text_col).alias("quality_score"),
    )


def winnowed_fingerprints(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 8,
) -> "DataFrame":
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003): positional word k-grams hashed to 32-bit ints; every
    window of ``w`` consecutive gram hashes contributes its minimum;
    the doc's fingerprint is the distinct selected values (sorted).
    Guarantee: two docs sharing a run of ≥ w+k-1 tokens share at least
    one fingerprint — the basis for plagiarism/near-dup candidate
    retrieval with O(2/(w+1)) selection density instead of every gram.

    ONE md5 pass per gram: the gram-hash array is bound to a lambda
    variable (``transform(array(<hs>), hs -> ...)[1]``) so the window
    pass references the MATERIALIZED array — naively inlining the
    array expression into ``size``/``slice`` re-evaluates the whole
    md5-per-gram chain per window (measured ~50× slower at sf0.1;
    higher-order-function lambdas are evaluated per reference, and
    relying on projection boundaries is fragile under
    CollapseProject). Map-only — no shuffle, no Python.

    Returns (id_col, fingerprints array<bigint>).
    """
    toks = f"split(lower({text_col}), ' ')"
    grams = (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {k})))"
    )
    hs = f"transform({grams}, g -> cast(conv(substr(md5(g), 1, 8), 16, 10) as bigint))"
    mins = (
        f"element_at(transform(array({hs}), hs -> "
        f"array_sort(array_distinct(transform("
        f"sequence(1, greatest(size(hs) - {w - 1}, 1)), "
        f"i -> array_min(slice(hs, i, {w})))))), 1)"
    )
    return df.select(id_col, F.expr(mins).alias("fingerprints"))


def winnow_candidate_pairs(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 8,
    min_shared: int = 2,
    df_cap: int | None = 50,
    observation=None,
) -> "DataFrame":
    """Near-dup candidate pairs = docs sharing ≥ ``min_shared``
    winnowed fingerprints, via fingerprint BUCKETS (same shape as
    ``minhash_candidates``): grams are hashed ONCE in a single corpus
    scan, the (id, fp) postings shuffle once on the integer
    fingerprint into collect_list buckets, and pairs expand in-bucket
    — no self-join, so no second shuffle of the postings and no
    cached/recomputed fingerprint frame (an earlier self-join version
    needed a localCheckpoint to avoid hashing every gram per side).

    ``df_cap`` drops fingerprint buckets with more than that many
    members (boilerplate/stopword grams): a hot fingerprint would
    otherwise expand O(m²) pairs on one reducer — the same scale
    guard as the LSH bucket cap, applied as a bucket filter. Pass a
    ``pyspark.sql.Observation`` as ``observation`` to read
    ``dropped_buckets`` / ``dropped_members`` after the action runs —
    at corpus scale a silent cap makes recall loss unauditable.
    (AQE caveat, applies to every cap observation in this engine: if
    the cap drops EVERY candidate, AQE's empty-relation propagation can
    replace the downstream stage and lose the CollectMetrics node — a
    degenerate input; run the audit with AQE off if it ever matters.)

    Returns (doc_a, doc_b, n_shared), doc_a < doc_b.
    """
    inv = winnowed_fingerprints(df, text_col, id_col, k, w).select(
        F.col(id_col), F.explode("fingerprints").alias("fp")
    )
    buckets = (
        inv.groupBy("fp")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if df_cap is not None:
        oversized = F.size("ids") > F.lit(int(df_cap))
        if observation is not None:
            buckets = buckets.observe(
                observation,
                F.sum(F.when(oversized, 1).otherwise(0)).alias("dropped_buckets"),
                F.sum(F.when(oversized, F.size("ids")).otherwise(0)).alias(
                    "dropped_members"
                ),
            )
        buckets = buckets.filter(~oversized)
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decon_grams(
    docs: "DataFrame",
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """(id, g): one row per k-token gram OCCURRENCE, hashed to a
    60-bit md5-prefix int — the exploded gram stream
    :func:`contamination_report` consumes. Factored out so the
    incremental decontamination index builds from the IDENTICAL
    expression: per-gram occurrence counts over disjoint doc slices
    are additive, and the (g, doc_id) postings table is the standing
    artifact a new eval slice probes without re-gramming the corpus."""
    from .dedup import shingles_from_text

    return spread(docs).select(
        F.col(id_col), shingles_from_text(text_col, k).alias("sh")
    ).select(
        id_col,
        F.explode(
            F.expr(
                "transform(sh, s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
            )
        ).alias("g"),
    )


def contamination_report(
    corpus: "DataFrame",
    benchmark: "DataFrame",
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> "DataFrame":
    """Benchmark decontamination (GPT-3/PaLM-style): flag every corpus
    document sharing at least one k-token gram with a benchmark/eval
    document, so contaminated training text can be dropped before the
    eval is run on the trained model.

    Returns (doc_id, n_shared_grams, n_eval_docs_hit) per contaminated
    corpus doc — distinct shared grams and how many eval docs they
    touch (triage signal: 1 gram × 1 doc is likely a phrase collision;
    many × many is a leak).

    Plan shape: gram extraction is map-only on both sides (distinct
    k-grams hashed to 60-bit md5-prefix ints); the benchmark gram set
    is small and BROADCAST into the probe join, so the corpus never
    shuffles to discover hits — only the (tiny) hit set aggregates.
    ``df_cap`` drops grams appearing in more than ``cap`` corpus docs
    (boilerplate that would flag everything and hot-key the join).
    """
    cg = decon_grams(corpus, k, id_col, text_col)
    if df_cap is not None:
        keep = cg.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") <= int(df_cap)
        )
        cg = cg.join(keep.select("g"), "g")
    bg = decon_grams(benchmark, k, id_col, text_col).withColumnRenamed(
        id_col, "eval_id"
    )
    hits = cg.join(F.broadcast(bg), "g")
    return hits.groupBy(id_col).agg(
        F.countDistinct("g").alias("n_shared_grams"),
        F.countDistinct("eval_id").alias("n_eval_docs_hit"),
    )


def chunk_tokens(
    text: str = "text", chunk_size: int = 50, stride: int = 40
) -> "Column":
    """Overlapping token-window chunks (LLM context-prep staple):
    windows of ``chunk_size`` tokens every ``stride`` tokens (overlap =
    chunk_size - stride). Native sequence+slice — the chunk explosion
    happens JVM-side, one output row per chunk after explode.

    Returns array<struct<chunk_idx int, chunk string>>; pair with
    posexplode/ explode at the call site."""
    toks = f"split(lower({text}), ' ')"
    n_chunks = f"greatest(cast(ceil((size({toks}) - {chunk_size}) / {stride}.0) as int) + 1, 1)"
    return F.expr(
        f"transform(sequence(0, {n_chunks} - 1), "
        f"i -> struct(i as chunk_idx, "
        f"concat_ws(' ', slice({toks}, i * {stride} + 1, {chunk_size})) as chunk))"
    )


def _doc_grams(docs, k: int, text_col: str = "text"):
    """(doc_id, pos, gh): every ``k``-token gram of every document,
    1-based token position + md5 of the space-joined gram — the
    map-only explode stage shared by the whole substring-dedup family
    (report / scrub / incremental). The token array is BOUND to a
    column before the HOF slices it (the re-evaluation gotcha); docs
    shorter than ``k`` tokens emit nothing."""
    toks = docs.select(
        "doc_id", F.expr(f"split(lower({text_col}), ' ')").alias("toks")
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {k} THEN "
                f"transform(sequence(1, size(toks) - {k} + 1), "
                f"i -> struct(i AS pos, "
                f"md5(concat_ws(' ', slice(toks, i, {k}))) AS gh)) "
                f"ELSE array() END"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))


def gram_ownership_index(grams):
    """(gh, df, owner): the substring-SCRUB index — per-gram distinct-
    document count plus the canonical owner (min doc_id). Both columns
    are MERGEABLE across disjoint ingests (df adds, owner mins), so an
    incremental scrub folds a batch's partial index in with one
    sum/min-groupBy on the hash and never re-grams the corpus."""
    return (
        grams.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("owner"),
        )
    )


def apply_cut_positions(docs, cut, k: int, text_col: str = "text"):
    """Shared rewrite tail of the scrub family: explode each cut gram
    occurrence (doc_id, pos) to its ``k`` covered token positions,
    collect the per-doc cut set, and rebuild the kept text map-side
    with an indexed-lambda ``filter`` HOF. One row per input doc —
    untouched docs ride through with their (lowercased) text."""
    covered = cut.select(
        "doc_id",
        F.explode(F.expr(f"sequence(pos, pos + {k} - 1)")).alias("tp"),
    ).distinct()
    cutset = covered.groupBy("doc_id").agg(
        F.collect_set("tp").alias("_cut")
    )
    toks = docs.select(
        "doc_id", F.expr(f"split(lower({text_col}), ' ')").alias("toks")
    )
    out = toks.join(cutset, "doc_id", "left").withColumn(
        "kept",
        F.expr(
            "CASE WHEN _cut IS NULL THEN toks "
            "ELSE filter(toks, (t, i) -> NOT array_contains(_cut, i + 1)) END"
        ),
    )
    return out.select(
        "doc_id",
        F.concat_ws(" ", "kept").alias("scrubbed_text"),
        F.size("kept").cast("bigint").alias("n_tokens_kept"),
        (F.size("toks") - F.size("kept"))
        .cast("bigint")
        .alias("n_tokens_removed"),
    )


def scrub_from_postings(docs, postings, k: int, text_col: str = "text"):
    """Scrub ``docs`` against a STANDING positional postings table
    (gh, doc_id, pos) — the persisted form of _doc_grams that
    phrase_search probes — instead of re-gramming text: per-gram
    ownership (owner = min doc_id, cut iff df >= 2 and not owner)
    re-derives from the postings with one distinct+groupBy, then the
    shared apply_cut_positions tail rebuilds kept text.

    This is what makes gram-ownership FORGETTABLE: the collapsed
    (gh, df, owner) index cannot transfer ownership when an owner is
    deleted (the next-min holder isn't in the row), but the postings
    can — anti-join the deleted docs away and ownership re-derivation
    does the transfer automatically, a gram left with one holder
    stops cutting, and the result equals a from-scratch scrub of the
    kept corpus (the dedup_clusters_forget cut-vertex precedent;
    pinned by the scrub_forget oracle and a crafted transfer test).
    ``docs`` and ``postings`` must cover the same doc set."""
    owners = (
        postings.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") >= 2)
        .select("gh", "owner")
    )
    cut = postings.join(owners, "gh").filter(F.col("doc_id") != F.col("owner"))
    return apply_cut_positions(docs, cut, k, text_col)


def gram_document_frequency(grams):
    """(gh, df): per-gram distinct-document count — ALL grams, df >= 1.
    This table IS the persistable substring-dedup index at 100 TB:
    mergeable counts over disjoint doc slices (the vocab_new_batch
    posture — a new ingest's partial counts just ADD), and only
    16-byte hashes ever shuffle. Keep df = 1 rows: a future batch's
    second occurrence is what promotes them to shared."""
    return (
        grams.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def spans_from_shared(shared, k: int):
    """Collapse shared gram positions into maximal runs per document
    (gaps-and-islands: pos - row_number over the per-doc pos order),
    emitting (doc_id, span_start, span_tokens, n_grams) — one exchange
    on the doc key."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = shared.withColumn("island", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(k))
            .cast("bigint")
            .alias("span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .drop("island")
    )


def duplicate_span_report(docs, k: int = 8, text_col: str = "text"):
    """SUBSTRING-level exact dedup (the Lee et al. 2022 granularity —
    'Deduplicating Training Data Makes Language Models Better' removes
    repeated SPANS, not whole documents): for every document, the
    maximal runs of consecutive ``k``-token grams that also appear in
    at least one OTHER document. Output one row per run:
    (doc_id, span_start [1-based token position], span_tokens,
    n_grams) — the "cut these token ranges" decision table that
    doc-level (exact_dedup), near-dup (MinHash) and containment
    queries cannot express: a boilerplate header shared by thousands
    of otherwise-unique pages never clears a document-level threshold.

    Plan shape (nothing pairwise — cost scales with corpus tokens,
    never with the quadratic pair space):
      1. map-only: positions 1..len-k+1 exploded with the gram's md5
         (the token array is BOUND to a column before the HOF slices
         it — the re-evaluation gotcha in SKILL.md);
      2. gram document-frequency: dedupe (gram_hash, doc_id) then one
         count agg — at 100 TB this (gram_hash, df) table IS the
         persistable index (mergeable counts, the vocab_new_batch
         posture), and only hashes ever shuffle (16 bytes/gram);
      3. equi-join positions to shared grams (df >= 2), then a
         per-document gaps-and-islands window (pos - row_number) and
         one groupBy to collapse runs — both on the doc_id key, one
         exchange.
    """
    grams = _doc_grams(docs, k, text_col)
    df_tbl = gram_document_frequency(grams).filter(F.col("df") >= 2)
    shared = grams.join(df_tbl.select("gh"), "gh")
    return spans_from_shared(shared, k)


def scrub_duplicate_spans(
    docs,
    k: int = 8,
    text_col: str = "text",
    min_span_tokens: "int | None" = None,
):
    """APPLY the substring-dedup decision table (the actual Lee et al.
    2022 deliverable duplicate_span_report stops short of): rewrite
    every document's text with cross-document duplicated token ranges
    CUT OUT, keeping exactly one canonical occurrence of each
    duplicated gram in the whole corpus — the owner document
    (min doc_id over the docs containing the gram) keeps its text
    untouched for that gram; every other document drops the k tokens
    the gram covers. Deterministic, order-free, and
    content-preserving: each duplicated gram provably survives in its
    owner, so no corpus content is lost — only repetitions.

    Output one row per INPUT document (untouched docs ride through):
    (doc_id, scrubbed_text, n_tokens_kept, n_tokens_removed), text
    lowercased (the gram normalization, applied consistently).

    Plan shape — nothing pairwise, same contract as the report:
      1. map-only gram explode (shared _doc_grams stage);
      2. per-gram (owner, df) aggregate — hash-only shuffle;
      3. equi-join grams→owners, keep occurrences the doc does NOT
         own, explode each to its k covered token positions, distinct;
      4. collect the per-doc cut-position set (bounded by the doc's
         own token count) and one indexed-lambda `filter` HOF rebuilds
         the kept text map-side — the rewrite never shuffles text, only
         (doc_id, int) position pairs.

    ``min_span_tokens`` (default: off — every non-owned shared gram
    cuts): only cut-eligible runs spanning at least this many tokens
    are actually removed — the Lee et al. deployment posture (they
    scrub ~50-token repeats; cutting every shared 8-gram would
    amputate common phrases). The threshold applies to the CUT runs
    (consecutive non-owned positions), so a run interrupted by grams
    this doc owns counts as its surviving fragments. Adds one
    doc_id-keyed window + groupBy over cut positions — ints only,
    same exchange key as the rebuild join."""
    grams = _doc_grams(docs, k, text_col)
    owners = (
        gram_ownership_index(grams)
        .filter(F.col("df") >= 2)
        .select("gh", "owner")
    )
    cut = grams.join(owners, "gh").filter(F.col("doc_id") != F.col("owner"))
    if min_span_tokens is not None and min_span_tokens > k:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("pos")
        cut = cut.withColumn(
            "island", F.col("pos") - F.row_number().over(w)
        )
        qualifying = (
            cut.groupBy("doc_id", "island")
            .agg(
                (F.max("pos") - F.min("pos") + F.lit(k)).alias("_extent")
            )
            .filter(F.col("_extent") >= min_span_tokens)
            .select("doc_id", "island")
        )
        cut = cut.join(qualifying, ["doc_id", "island"])
    return apply_cut_positions(docs, cut, k, text_col)


def chunk_docs_udtf(chunk_size: int = 50, stride: int = 40):
    """Python UDTF twin of :func:`chunk_tokens` — the Spark 4
    ``@udtf`` structured 1→k fan-out (the fifth and last Python eval
    surface after scalar pandas UDF, grouped-agg, mapInPandas and
    cogroup). Same chunking contract, emitted with its own output
    schema: (doc_id, chunk_idx, n_tokens, chunk_hash), one row per
    non-empty chunk.

    Call with a TABLE argument — ``chunk_docs_udtf(s, t)(df.asTable())``
    — so the whole (doc_id, text) row crosses the JVM→Python boundary
    in Arrow batches (``useArrow=True`` → one ArrowEvalPythonUDTF
    stage, plan-pinned). A real chunker that needs a Python tokenizer
    library (tiktoken/sentencepiece) drops into ``eval`` unchanged;
    for this pure string windowing the NATIVE chunk_tokens path is
    the production choice (zero Python), which is why both are
    registered against the SAME DuckDB oracle — the two
    implementations prove each other."""
    import hashlib
    import math

    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, chunk_idx int, n_tokens bigint, "
        "chunk_hash string",
        useArrow=True,
    )
    class ChunkDocs:
        def eval(self, row):
            toks = (row.text or "").lower().split(" ")
            n = max(
                math.ceil((len(toks) - chunk_size) / float(stride)) + 1, 1
            )
            for i in range(n):
                chunk = " ".join(toks[i * stride : i * stride + chunk_size])
                if chunk != "":
                    yield (
                        row.doc_id,
                        i,
                        len(chunk.split(" ")),
                        hashlib.md5(chunk.encode("utf-8")).hexdigest(),
                    )

    return ChunkDocs


# ---------------------------------------------------------------------------
# Iterative BPE trainer. The driver-sequenced merge loop (the
# connected_components shape): each round is ONE distributed pair-count
# aggregation + a 1-row argmax collect (the merge decision is the
# MODEL, like codebook centroids), then a map-only merge rewrite.
#
# Sequence encoding that makes the merge rewrite a plain string
# replace with EXACT textbook-BPE semantics on any engine: every
# symbol is WRAPPED in sentinels (chr(1), outside the [a-z] alphabet)
# — 'low' → '␁l␁␁o␁␁w␁' — so replace(seq, '␁a␁␁b␁' → '␁ab␁') is
# greedy leftmost non-overlapping WITH restart-after-match, which is
# precisely the tokenizer-library merge rule. Soundness: a match must
# start at an OPENING sentinel (the pattern starts with ␁ and symbol
# bodies contain none), and a CLOSING sentinel is always followed by
# another sentinel, never a letter — so no mid-token or cross-token
# false match exists. The weaker encodings both fail: space-DELIMITED
# consumes the next match's boundary and mis-merges runs ('aaaa'),
# and terminator-ONLY ('a␁b␁') lets the pattern match a SUFFIX of a
# longer symbol ('aa␁b␁' ⊃ 'a␁b␁' — caught by the hypothesis
# property test; both engines agreed on the wrong answer, so only the
# independent symbol-list reference could see it). Identical
# replace() semantics in Spark, DuckDB, and Python let the DuckDB
# oracle rebuild the whole k-round loop as unrolled CTEs and
# hash-match every merge decision.
# ---------------------------------------------------------------------------
BPE_SEP = "\x01"  # symbol wrapper, never in the [a-z]+ word alphabet
BPE_PAIR_SEP = "\n"  # (left, right) key separator for counting/tie-break


def bpe_word_table(docs, text_col: str = "text"):
    """(word, n) frequency table over lowercased ``[a-z]+`` tokens —
    the only corpus-sized aggregation in BPE training; every merge
    round after it runs over DISTINCT WORDS (orders of magnitude
    smaller). At 100 TB this table is the persisted artifact a
    tokenizer team re-trains from without re-reading the corpus."""
    return (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_seq_table(wf):
    """(seq, n): each word as its character symbols, each wrapped in
    the chr(1) sentinel — 'low' → '␁l␁␁o␁␁w␁'."""
    seq = F.concat(
        F.lit(BPE_SEP),
        F.concat_ws(BPE_SEP + BPE_SEP, F.split(F.col("word"), "")),
        F.lit(BPE_SEP),
    )
    return wf.select(seq.alias("seq"), "n")


def bpe_pair_counts_round(cur):
    """One merge round's statistics: (pr, cnt) = adjacent-symbol pair
    (left + chr(10) + right) with its corpus-weighted occurrence
    count. Symbols are bound to an attribute BEFORE the slice/zip_with
    HOFs (the re-evaluation trap); exactly one shuffle (the partial →
    final pair aggregation) — plan-asserted in pytest."""
    toks = F.expr("filter(split(seq, char(1)), x -> x <> '')")
    tk = cur.select("n", toks.alias("toks")).filter(F.size("toks") >= 2)
    pairs = tk.select(
        "n",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (x, y) -> concat(x, char(10), y))"
            )
        ).alias("pr"),
    )
    return pairs.groupBy("pr").agg(F.sum("n").cast("bigint").alias("cnt"))


def bpe_train_merges(
    docs, n_merges: int, text_col: str = "text"
) -> list[tuple[int, str, str, str, int]]:
    """Train the first ``n_merges`` BPE merges over ``docs``; returns
    [(merge_rank, left_sym, right_sym, merged, n_occurrences)]. Ties
    break on the (left + chr(10) + right) pair string ascending —
    integer counts + binary collation make every decision
    engine-exact. Per round: one shuffle (pair counts over distinct
    words), a 1-row collect (the decision), and a map-only replace.
    Each round's word table is persisted; the PARENT is unpersisted
    only after the child materializes inside the next round's collect
    (one Spark job per round, lineage one round deep — the
    connected_components recipe). Stops early when no adjacent pair
    remains.

    At 100 TB: tokenizer statistics saturate far below full-corpus
    scale — feed a hash-sample of documents (operators/sampling.py::
    hash_sample) so the per-round shuffle runs over a bounded word
    table; the trained merges then apply to the FULL corpus as one
    map-only projection (bpe_apply_merges)."""
    return bpe_train_merges_from_words(bpe_word_table(docs, text_col), n_merges)


# Vocab-size bound for driver-local BPE training. Below it the whole
# merge loop runs in one Python pass over the collected (seq, n)
# table instead of n_merges driver-sequenced Spark rounds (each round
# = a shuffle job + a 1-row collect + a persist — ~3 jobs and two
# Catalyst cycles of pure scheduling latency at any corpus size,
# because the loop runs over DISTINCT WORDS, not documents). 256k
# words × ~8 adjacent pairs × n_merges rounds stays well under a
# second of driver CPU; a production-scale vocabulary above the cap
# keeps the distributed loop. The decision costs one job (the
# limit(cap+1) probe IS the collect the local path needs).
BPE_LOCAL_VOCAB_CAP = 262_144


def _bpe_train_merges_local(
    seq_rows, n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Driver-local replica of the distributed merge loop over
    collected ``(seq, n)`` rows. Decision-for-decision identical:
    pair keys are ``left + chr(10) + right`` over the chr(1)-framed
    symbol sequence, counts weight by word frequency, the argmax
    tie-breaks on the pair string ascending (ASCII-only symbols, so
    Python's code-point compare == Spark's UTF8 binary collation),
    and the rewrite is str.replace — the same non-overlapping
    left-to-right scan as Spark/DuckDB ``replace``. Pinned by the
    pure-Python BPE reference tests and every bpe_*/llm_dataset_*
    oracle hash."""
    seqs = [row[0] for row in seq_rows]
    ns = [int(row[1]) for row in seq_rows]
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        cnt: dict[str, int] = {}
        for seq, n in zip(seqs, ns):
            toks = [t for t in seq.split(BPE_SEP) if t]
            for i in range(len(toks) - 1):
                pr = toks[i] + BPE_PAIR_SEP + toks[i + 1]
                cnt[pr] = cnt.get(pr, 0) + n
        if not cnt:
            break
        best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        a, b = best[0].split(BPE_PAIR_SEP)
        merges.append((r, a, b, a + b, best[1]))
        old = BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP
        new = BPE_SEP + a + b + BPE_SEP
        seqs = [s.replace(old, new) for s in seqs]
    return merges


def bpe_train_merges_from_words(
    wf, n_merges: int, local_vocab_cap: int | None = BPE_LOCAL_VOCAB_CAP
) -> list[tuple[int, str, str, str, int]]:
    """:func:`bpe_train_merges` from a pre-aggregated ``(word, n)``
    frequency table — the incremental-trainer entry point: word counts
    over disjoint doc slices are ADDITIVE, so a standing word table
    plus a batch's partial counts (one sum-groupBy) retrains the
    EXACT full-corpus tokenizer without re-reading any text. Cost per
    round ∝ distinct words, corpus-size-independent.

    Vocabularies of ≤ ``local_vocab_cap`` distinct words (probed with
    the same single job that fetches them) train DRIVER-LOCALLY in
    one pass — the merge decisions are a pure function of the tiny
    (seq, n) table, and n_merges driver-sequenced Spark rounds cost
    ~3 scheduling-bound jobs each regardless of data size. The Spark
    expression :func:`bpe_seq_table` still builds the sequences, so
    the local path shares the exact symbol framing; pass
    ``local_vocab_cap=None`` (or 0) to force the distributed loop."""
    if local_vocab_cap:
        head = (
            bpe_seq_table(wf)
            .limit(local_vocab_cap + 1)
            .collect()
        )
        if len(head) <= local_vocab_cap:
            return _bpe_train_merges_local(head, n_merges)
    cur = bpe_seq_table(wf).persist()
    live = [cur]
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for r in range(1, n_merges + 1):
            best = (
                bpe_pair_counts_round(cur)
                .orderBy(F.col("cnt").desc(), F.col("pr").asc())
                .limit(1)
                .collect()
            )
            # ``cur`` materialized during the collect → its parent's
            # cache is no longer needed
            while len(live) > 1:
                live.pop(0).unpersist()
            if not best:
                break
            a, b = best[0]["pr"].split(BPE_PAIR_SEP)
            merges.append((r, a, b, a + b, int(best[0]["cnt"])))
            cur = cur.select(
                F.replace(
                    F.col("seq"),
                    F.lit(BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP),
                    F.lit(BPE_SEP + a + b + BPE_SEP),
                ).alias("seq"),
                "n",
            ).persist()
            live.append(cur)
    finally:
        for df in live:
            df.unpersist()
    return merges


def bpe_apply_merges(cur, merges) -> "object":
    """Map-only application of an already-trained merge list to a
    table with a ``seq`` column: the full replace chain composes into
    ONE projection (no per-round actions) — how a trained tokenizer
    re-encodes new text at scale. All other columns pass through."""
    col = F.col("seq")
    for _, a, b, _, _ in merges:
        col = F.replace(
            col,
            F.lit(BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP),
            F.lit(BPE_SEP + a + b + BPE_SEP),
        )
    rest = [c for c in cur.columns if c != "seq"]
    return cur.select(col.alias("seq"), *rest)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the lexical search baseline every corpus
# pipeline needs (retrieval-based decontamination, nearest-neighbor
# text lookup where embeddings are unavailable, eval-set mining).
# Okapi BM25 (Robertson et al., TREC-3), Lucene's idf variant:
#   score(q, d) = Σ_{t ∈ q} ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
#                 · tf_td·(k1+1) / (tf_td + k1·(1 - b + b·dl_d/avgdl))
# The pandas reference has no search surface; this extends the
# tf·idf operator (w11_warehouse_ops.py::q_doc_tfidf_top_terms) with the
# saturating tf and length normalization real retrieval uses.
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75

# Contribution of one (query term, doc) pair, as SQL text so the
# DuckDB oracle can be built from the SAME expression shape: float
# determinism requires the identical IEEE operation ORDER on both
# engines, so every subexpression is explicitly parenthesized (e.g.
# 0.75*(dl/avgdl), never (0.75*dl)/avgdl). Expects double columns
# n_docs, df, tf, dl, avgdl in scope. Built FROM the constants above
# (ADVICE r11: literals had drifted free of them) — the shortest-repr
# decimal text parses to the identical double on both engines;
# tests/test_ext_operators.py pins the exact rendered string.
BM25_CONTRIB_SQL = (
    "(ln(1.0 + (((n_docs - df) + 0.5) / (df + 0.5)))"
    f" * ((tf * {BM25_K1 + 1.0!r}) / (tf + ({BM25_K1!r} * ((1.0 - {BM25_B!r})"
    f" + ({BM25_B!r} * (dl / avgdl)))))))"
)


def corpus_term_stats(docs, text_col: str = "text", materialize: bool = False):
    """ONE corpus pass (explode → tf aggregate) from which every other
    term statistic derives: dl = Σ tf per doc, df = #(doc,token) rows
    per token (≡ distinct docs per token, since tf is one row per
    pair), total tokens = Σ dl. Deriving instead of re-exploding keeps
    the corpus-sized work to a single scan — the tf exchange is
    byte-identical under each consumer, so Catalyst's ReuseExchange
    shares it — and every derived count is an exact integer sum, so
    values (and the DuckDB oracle, which computes each stat with its
    own COUNT) are unchanged. Returns (tf, dl, dfreq, stats): integer
    columns tf_l/dl_l/df_l, stats a 1-row (n_docs, avgdl) broadcast.
    At 100 TB tf/dl/dfreq are the persisted vocabulary-index family —
    built once per ingest, reused per query.

    ``materialize=True`` eagerly materializes tf first, for callers
    that consume the four frames in SEPARATE actions (e.g. persisting
    each as its own parquet table): ReuseExchange only shares the tf
    exchange within one plan, so without it every action re-explodes
    the corpus. Rows are unchanged — the checkpoint pins the exact tf
    the aggregate produced."""
    toks = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf_l")
    )
    if materialize:
        tf = _materialize(tf, eager=True)
    dl = tf.groupBy("doc_id").agg(F.sum("tf_l").cast("bigint").alias("dl_l"))
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_l")
    )
    stats = (
        docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        .crossJoin(
            F.broadcast(
                dl.agg(F.sum("dl_l").cast("double").alias("n_toks"))
            )
        )
        .select("n_docs", (F.col("n_toks") / F.col("n_docs")).alias("avgdl"))
    )
    return tf, dl, dfreq, stats


def term_stats_forget(tf, dl, dfreq, raw, deleted):
    """Right-to-be-forgotten for the standing term index — the
    additive merge law (bm25_new_batch) INVERTED, computed entirely
    from the index itself (tf rows ARE the postings, so no deleted
    text is ever re-tokenized):

    - tf/dl rows are per-doc → anti-join deletes;
    - per-token df subtracts the deleted docs' postings count; tokens
      whose df reaches 0 leave the vocabulary (exactly what a rebuild
      over the kept corpus yields);
    - the exact-INTEGER totals ``raw`` (n_docs, n_toks — the
      undividable form of stats' avgdl) subtract the deleted counts
      before the one avgdl division.

    ``deleted``: (doc_id) — may include docs absent from the index
    (token-less docs still count toward n_docs, matching
    corpus_term_stats' own n_docs = COUNT(docs) convention, so the
    caller passes ALL deleted doc ids and n_docs subtracts all of
    them). Returns (tf, dl, dfreq, stats) shaped exactly like
    corpus_term_stats — every count an exact integer subtraction, so
    the result is value-identical to recomputing over the kept corpus
    (pinned by the bm25_forget oracle and a crafted equivalence
    test)."""
    tf_k = tf.join(deleted, "doc_id", "left_anti")
    dl_k = dl.join(deleted, "doc_id", "left_anti")
    df_del = (
        tf.join(deleted, "doc_id")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_del"))
    )
    dfreq_k = (
        dfreq.join(df_del, "token", "left")
        .select(
            "token",
            (F.col("df_l") - F.coalesce(F.col("df_del"), F.lit(0)))
            .cast("bigint")
            .alias("df_l"),
        )
        .filter(F.col("df_l") > 0)
    )
    del_counts = deleted.agg(
        F.count(F.lit(1)).cast("bigint").alias("dd")
    ).crossJoin(
        F.broadcast(
            dl.join(deleted, "doc_id").agg(
                F.coalesce(F.sum("dl_l"), F.lit(0)).cast("bigint").alias("dt")
            )
        )
    )
    stats_k = raw.crossJoin(F.broadcast(del_counts)).select(
        (F.col("n_docs") - F.col("dd")).cast("double").alias("n_docs"),
        (
            (F.col("n_toks") - F.col("dt")).cast("double")
            / (F.col("n_docs") - F.col("dd")).cast("double")
        ).alias("avgdl"),
    )
    return tf_k, dl_k, dfreq_k, stats_k


def bm25_scores(docs, query_terms, text_col: str = "text", term_stats=None):
    """Score every (query, document) pair that shares ≥1 term.

    docs: (doc_id, text); query_terms: (query_id, token) — the query
    set, tiny by construction (broadcast). Returns (query_id, doc_id,
    score) with score a double. Pass ``term_stats`` (a
    corpus_term_stats result) to share the corpus pass with other
    consumers (hybrid retrieval does).

    Shape: ONE corpus pass feeds tf, from which dl/df/avgdl derive
    (corpus_term_stats); the query-term join is a broadcast hash join
    on token, so the only key-space shuffles are the tf-derived
    aggregates — at scale df/idf is the persisted vocabulary index
    (operators/dedup.py posture) and this becomes one map-side pass
    over tf. The per-pair term sum folds a token-sorted array
    SEQUENTIALLY (aggregate HOF == DuckDB list_sum over
    list(ORDER BY token) — the PSI precedent) so the float sum is
    cross-engine byte-identical.
    """
    tf, dl, dfreq, stats = (
        corpus_term_stats(docs, text_col) if term_stats is None else term_stats
    )
    contrib = (
        tf.join(F.broadcast(query_terms), "token")
        .join(dfreq, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            "token",
            F.col("tf_l").cast("double").alias("tf"),
            F.col("dl_l").cast("double").alias("dl"),
            F.col("df_l").cast("double").alias("df"),
            "n_docs",
            "avgdl",
        )
        .select(
            "query_id", "doc_id", "token", F.expr(BM25_CONTRIB_SQL).alias("w")
        )
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(token, w))),"
            " p -> p.w), 0D, (acc, x) -> acc + x)"
        ).alias("score")
    )


def unigram_logprob_scores(docs, lm_docs, text_col: str = "text"):
    """Per-document log-probability under an add-one-smoothed unigram
    LM trained on ``lm_docs`` — the CCNet (Wenzek et al. 2020)
    perplexity-filter shape: train a small LM on a TRUSTED slice,
    score the whole corpus, keep what the LM finds natural. Returns
    (doc_id, n_tokens, sum_logp) with
    ``sum_logp = Σ_tokens tf_dt · ln((c_w + 1) / (N + V))``
    (c_w = train count, N = train tokens, V = train vocab; unseen
    tokens get the smoothed floor 1/(N+V)).

    Avg-NLL (−sum_logp/n) is a monotone transform of perplexity
    (ppl = e^{avg NLL}), so filtering thresholds compare in log space
    and exp() never runs — the doc_quality_logit z≥0 trick.

    Shuffle layout = the tf·idf pass: one explode per side feeds
    per-(doc, token) tf and the train counts; the count join is an
    equi-join on token (the persisted-vocabulary posture at 100 TB —
    the LM IS a vocabulary index with probabilities); the (N, V)
    totals ride a 1-row broadcast. Cross-engine float determinism:
    each distinct token's contribution is an ln of one exact-integer
    ratio (the PMI trick) scaled by integer tf, and the per-doc sum
    folds the token-SORTED contribution array sequentially (the
    BM25/PSI precedent)."""
    lm_toks = lm_docs.select(
        F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    cw = lm_toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_w")
    )
    totals = cw.agg(
        F.coalesce(F.sum("c_w"), F.lit(0)).cast("bigint").alias("lm_n"),
        F.count(F.lit(1)).cast("bigint").alias("lm_v"),
    )
    toks = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf_l")
    )
    contrib = (
        tf.join(cw, "token", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "token",
            "tf_l",
            F.expr(
                "cast(tf_l as double) * ln(cast((coalesce(c_w, 0) + 1) as double)"
                " / cast((lm_n + lm_v) as double))"
            ).alias("w"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("tf_l").cast("bigint").alias("n_tokens"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(token, w))),"
            " p -> p.w), 0D, (acc, x) -> acc + x)"
        ).alias("sum_logp"),
    )


def rrf_fuse(ranked_a, ranked_b, rank_a: str, rank_b: str, c: int = 60):
    """Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    rank tables (query_doc, doc_id, <rank>): rrf_u9 = Σ 1e9 div (c+rank)
    over the sources that ranked the doc. ALL-INTEGER by construction —
    RRF consumes ranks, never scores, so fusion needs no cross-engine
    float care and no score calibration between sources. Absent ranks
    surface as 0. The full-outer join touches only the ≤ k rows per
    query each source kept."""
    fused = ranked_a.join(ranked_b, ["query_doc", "doc_id"], "full_outer")
    return fused.select(
        "query_doc",
        "doc_id",
        (
            F.coalesce(F.expr(f"1000000000 div ({c} + {rank_a})"), F.lit(0))
            + F.coalesce(F.expr(f"1000000000 div ({c} + {rank_b})"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_u9"),
        F.coalesce(rank_a, F.lit(0)).cast("bigint").alias(rank_a),
        F.coalesce(rank_b, F.lit(0)).cast("bigint").alias(rank_b),
    )


DSIR_BUCKETS = 10007  # prime hashed-feature space (Xie et al. 2023 use 10k)


def dsir_logweights(
    docs,
    target_docs,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "dsir",
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document DSIR importance log-weight (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw-corpus doc by how much its hashed-bigram distribution
    looks like the TARGET corpus rather than the raw corpus —
    ``log w(x) = Σ_b tf_x(b) · ln(p̂_tgt(b) / p̂_raw(b))`` with
    add-one-smoothed bucket distributions
    ``p̂(b) = (c(b)+1)/(N+B)`` over ``B`` md5-hashed bigram buckets.
    Resampling by these weights shifts a web-scale crawl toward a
    small high-quality domain without training a classifier — the
    data-SELECTION step of mixture building (source_token_waterfill
    budgets sources; DSIR scores individual documents).

    Returns (id_col, n_bigrams, logw): logw > 0 ⇔ the doc is more
    target-like than raw-like under the hashed-feature model.

    Cross-engine exact by the doc_unigram_nll discipline: each
    bucket's contribution is tf · ln of ONE exact-int64 ratio
    ``((c_t+1)·(N_r+B)) / ((c_r+1)·(N_t+B))`` and the per-doc sum
    folds the bucket-SORTED contribution array sequentially. Bigrams
    bind through a transform(array(...)) lambda (the repo-wide HOF
    rule) and bucket via the md5 trick shared with hash_bucket.

    Scale posture: both distributions are ONE groupBy each (map-side
    partials over B≪|corpus| buckets); the target counts and the
    (N_t, N_r) totals are index-sized; scoring is one equi-join on
    bucket against the per-doc tf table — at 100 TB the target/raw
    count tables are persisted vocabulary-style indexes and scoring a
    new crawl batch never rescans the reference corpora."""
    tgt = dsir_bucket_counts(target_docs, n_buckets, salt, text_col, "c_t")
    tf = dsir_bigram_tf(docs, n_buckets, salt, text_col, id_col)
    # raw counts derive from tf — the corpus explodes exactly once
    cr = tf.groupBy("bucket").agg(F.sum("tf_l").cast("bigint").alias("c_r"))
    return _dsir_score_tf(tf, tgt, cr, n_buckets, id_col)


def _dsir_bigram_expr(text_col: str) -> str:
    toks = f"filter(split(lower({text_col}), ' '), x -> x <> '')"
    return (
        f"element_at(transform(array({toks}), t -> "
        f"case when size(t) >= 2 then transform(sequence(1, size(t) - 1), "
        f"i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
        f"else cast(array() as array<string>) end), 1)"
    )


def _dsir_bucket_col(n_buckets: int, salt: str):
    return F.expr(
        f"cast(conv(substr(md5(concat('{salt}', _bg)), 1, 8), 16, 10) as bigint)"
        f" % {n_buckets}"
    ).alias("bucket")


def dsir_bigram_tf(
    docs,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "dsir",
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """(id, bucket, tf_l) hashed-bigram term frequencies — the per-doc
    feature table every DSIR flavor consumes."""
    return (
        docs.select(id_col, F.explode(F.expr(_dsir_bigram_expr(text_col))).alias("_bg"))
        .select(id_col, _dsir_bucket_col(n_buckets, salt))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf_l"))
    )


def dsir_bucket_counts(
    docs,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "dsir",
    text_col: str = "text",
    out_col: str = "c",
):
    """(bucket, count) hashed-bigram distribution of a corpus — the
    persistable DSIR index artifact (additive across disjoint
    ingests, so it maintains exactly like the BM25 term index)."""
    return (
        docs.select(F.explode(F.expr(_dsir_bigram_expr(text_col))).alias("_bg"))
        .select(_dsir_bucket_col(n_buckets, salt))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias(out_col))
    )


def _dsir_score_tf(tf, tgt, raw, n_buckets: int, id_col: str):
    """Fold per-(doc, bucket) tf against target/raw counts into
    (id, n_bigrams, logw). ``tgt`` has c_t, ``raw`` has c_r; both
    join LEFT with +1 smoothing, so a bucket unseen in either
    reference is well-defined (the frozen-index inference case)."""
    totals = tgt.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("n_t")
    ).crossJoin(
        raw.agg(F.coalesce(F.sum("c_r"), F.lit(0)).cast("bigint").alias("n_r"))
    )
    contrib = (
        tf.join(raw, "bucket", "left")
        .join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            "bucket",
            "tf_l",
            F.expr(
                f"cast(tf_l as double) * ln("
                f"cast((coalesce(c_t, 0) + 1) * (n_r + {n_buckets}) as double)"
                f" / cast((coalesce(c_r, 0) + 1) * (n_t + {n_buckets}) as double))"
            ).alias("w"),
        )
    )
    return contrib.groupBy(id_col).agg(
        F.sum("tf_l").cast("bigint").alias("n_bigrams"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(bucket, w))),"
            " p -> p.w), 0D, (acc, x) -> acc + x)"
        ).alias("logw"),
    )


def dsir_score_against_counts(
    docs,
    tgt_counts,
    raw_counts,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "dsir",
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score ``docs`` against FROZEN bucket-count tables — the
    production inference shape: the target/raw distributions are
    standing parquet indexes (see dsir_bucket_counts — additive, so
    they maintain like the BM25 term index) and each new crawl batch
    is one explode + one equi-join on bucket; the reference corpora
    are never rescanned. Buckets absent from either index smooth to
    +1 (a batch can contain bigrams no reference ever saw)."""
    tf = dsir_bigram_tf(docs, n_buckets, salt, text_col, id_col)
    return _dsir_score_tf(tf, tgt_counts, raw_counts, n_buckets, id_col)
