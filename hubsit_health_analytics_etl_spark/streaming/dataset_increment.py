"""Streaming dataset-increment sink — a document readStream maintains
the FULL standing-artifact set of the LLM dataset build and commits
every micro-batch's training dump as a catalog version (VERDICT r14
#3: the stream-equals-rebuild law applied to the flagship).

Per micro-batch of new documents, the ``foreachBatch`` sink:

1. BOOTSTRAP (first batch): builds the standing artifacts over the
   batch corpus via the batch fixture's own table-commit core
   (`workloads/w18_dataset_increment.py::_commit_standing_tables`);
2. SPLICE (every later batch): re-runs the proven incremental laws —
   `_splice_selection` (exact/MinHash/cluster/decon splices,
   metadata-only selection) and `_scrub_splice` (changed-docs-only
   re-scrub) — against the CURRENT catalog generation's members, with
   the updated artifact frames captured via the helpers' ``arts``
   hook;
3. retrains the tokenizer from the merged word table and re-prices
   via the word-dimension join (`_retrain_and_reprice` — the flagship
   full-retrain semantics, so the streamed dump is comparable to the
   from-scratch build);
4. commits every updated member table (19 artifacts + the appended
   ``docs`` corpus + the ``dump``) as new versions, then publishes
   them with ONE `sources/versioned.py::catalog_commit` — the atomic
   multi-table advance the catalog exists for: a crash between any
   two table commits leaves the previous catalog generation fully
   consistent, and the next delivery simply re-commits.

Replay idempotence is by BATCH ID at the catalog level (the
versioned_upsert_sink posture): each catalog commit records its
``batch_id``; a re-delivered batch whose id matches the current
catalog generation's is skipped outright.

The one member that needs batch-id idempotence at the TABLE level too
is the append-mode ``docs`` corpus (ADVICE r15, high): an overwrite
member recommitted on replay is recomputed fresh from the
catalog-pinned generation, so the extra orphaned version is garbage
but the newly published one is correct — an APPEND builds on the
table's current pointer, so replaying it after a crash between the
member commits and the catalog publish would append the batch ON TOP
of the orphaned pre-crash append and silently duplicate the corpus.
The sink therefore commits the docs append with
``expected_parent = the catalog-pinned docs version`` and
``extra={"batch_id"}``; on replay, when the table pointer sits ABOVE
the pinned version, it ADOPTS the orphaned version iff its manifest
proves it is this very delivery (parent == pinned, batch_id ==
batch_id) and otherwise refuses loudly (a foreign writer owns the
table). Orphaned member versions left by crashed deliveries are
reclaimed by the opt-in `sources/versioned.py::catalog_gc_orphans`
sweep (age-gated, run from the single catalog writer).

Law (tests/test_streaming_dataset_increment.py): stream the corpus in
chronological slices — after the final batch, the ``dump`` member
equals the from-scratch flagship plan (`w10::_llm_dataset_plan`) over
the whole corpus, row-for-row, and every intermediate generation
equals the from-scratch plan over the corpus-so-far.

Scale notes: the SPLICE work per batch is batch-proportional (the
per-index laws), but each member COMMIT here rewrites the member as
one overwrite version — dimension-/index-sized state by contract,
exactly the versioned_upsert_sink posture. At 100 TB the append-mode
commit path (`commit_version(mode="append")`) and partition-level
rewrites (`streaming/sinks.py::partitioned_upsert_sink`) carry the
big members; the catalog protocol above them is unchanged. The
tokenizer retrain is vocab-scale per batch by the flagship's
contract; a production pipeline that pins its tokenizer instead uses
the llm_dataset_merge_only pricing path (same module).

No reference counterpart (the pandas reference has no streaming and
no incremental maintenance); beyond-reference engine surface.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..operators.concurrency import materialize
from ..sources.parquet import spread

# every member the sink maintains: the 19 standing artifacts plus the
# appended raw corpus and the per-generation training dump
DOCS_MEMBER = "docs"
DUMP_MEMBER = "dump"


def _member_spec(k: str, v: int) -> "tuple[str, int]":
    return (os.path.join("tables", k), v)


def llm_dataset_stream_sink(
    cat_root: str,
    gc_every_n_batches: "int | None" = None,
    gc_orphan_grace_s: float = 3600.0,
    keep_last_generations: "int | None" = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callable maintaining the dataset-build standing
    state at ``cat_root`` (a catalog of versioned member tables) from
    a stream of new documents::

        docs_stream.writeStream.foreachBatch(
            llm_dataset_stream_sink(cat_root)).start()

    Batch schema: the ``documents`` table's (doc_id, text, source,
    ...). Batches must carry distinct, never-before-seen doc_ids (the
    ingest contract of the batch *_new_batch laws).

    ``gc_every_n_batches`` (opt-in, VERDICT r16 #6): every Nth
    successfully published batch runs the
    `sources/versioned.py::catalog_gc_orphans` sweep from inside the
    sink — the single catalog writer, immediately after its own
    publish, so the never-concurrent-with-a-delivery contract holds
    by construction. ``gc_orphan_grace_s`` is the sweep's age gate;
    keep it comfortably above the longest delivery time so a RACING
    restart's in-flight adoption target is never collected (the
    default 1 h matches the manual-sweep recipe).

    ``keep_last_generations`` (opt-in retention, same cadence): also
    runs `catalog_expire(cat_root, keep_last_generations)`. The TWO
    sweeps together are what bounds a replay-heavy stream's disk:
    a crashed delivery's member versions sit ABOVE the catalog
    references only until the replayed delivery re-commits on top of
    them — from then on they are MID-CHAIN garbage that only
    generation retirement (`catalog_expire`, whose per-member floor
    is the oldest KEPT generation's reference) can reclaim, while
    `catalog_gc_orphans` covers the complementary tail (a stream that
    died with orphans still on top and was swept before restart).
    The drill in tests/test_streaming_dataset_increment.py pins the
    boundedness law: with both sweeps on, a crashed-then-replayed
    stream's final on-disk footprint equals an uninterrupted run's.
    """

    def _apply(batch: DataFrame, batch_id: int) -> None:
        import pyspark.sql.functions as F

        from ..sources.versioned import (
            ConcurrentWriteError,
            _abs_file,
            catalog_commit,
            catalog_current,
            commit_version,
            current_version,
            read_catalog,
            read_catalog_table,
            read_manifest,
        )
        from ..workloads.w18_dataset_increment import (
            _commit_standing_tables,
            _retrain_and_reprice,
            _scrub_splice,
            _splice_selection,
        )
        from ..operators.textanalysis import bpe_word_table
        from ..workloads.w10_dataset_build import _shard_pack_plan

        if batch.isEmpty():
            return  # idle trigger; no state change, replay-equivalent
        spark = batch.sparkSession
        # the sink re-reads the batch many times (fingerprint probe,
        # signatures, grams, annotations, word table) — pin it once
        batch = materialize(batch, eager=True)
        cur = catalog_current(cat_root)
        if cur is not None:
            if read_catalog(cat_root)["extra"].get("batch_id") == batch_id:
                return  # re-delivered, already-committed batch
            standing_docs = read_catalog_table(spark, cat_root, DOCS_MEMBER)
            docs_all = standing_docs.unionByName(batch)
            members = {
                k: read_catalog_table(spark, cat_root, k)
                for k in read_catalog(cat_root)["tables"]
                if k not in (DOCS_MEMBER, DUMP_MEMBER)
            }
            arts: dict[str, DataFrame] = {}
            dlt: dict = {}
            sel_new = _splice_selection(
                spark, docs_all, members, batch, arts=arts, delta=dlt
            )
            skept_new, dwc_new, _, _ = _scrub_splice(
                spark,
                docs_all,
                members,
                members["sel"],
                sel_new,
                arts=arts,
                delta=dlt,
            )
            arts["rwf"] = (
                members["rwf"]
                .unionByName(bpe_word_table(spread(batch)))
                .groupBy("word")
                .agg(F.sum("n").alias("n"))
            )
            tokd = _retrain_and_reprice(arts["rwf"], skept_new, dwc_new)
            versions = {
                k: commit_version(df, os.path.join(cat_root, "tables", k))
                for k, df in arts.items()
            }
            # append-mode corpus commit, replay-idempotent at the table
            # level (module docstring, ADVICE r15 high): derive at the
            # catalog-PINNED docs version, never the raw table pointer
            docs_root = os.path.join(cat_root, "tables", DOCS_MEMBER)
            pinned = read_catalog(cat_root)["tables"][DOCS_MEMBER][
                "version"
            ]
            tcur = current_version(docs_root)
            if tcur is not None and tcur != pinned:
                orphan = read_manifest(docs_root, tcur)
                if (
                    orphan.get("parent") == pinned
                    and orphan.get("extra", {}).get("batch_id") == batch_id
                ):
                    # a previous delivery of THIS batch appended the
                    # corpus and crashed before the catalog publish —
                    # adopt its version instead of appending the same
                    # batch a second time. Adoption gate #3 (ADVICE
                    # r16 medium): every file the orphan manifest
                    # lists must still exist — a gc sweep that
                    # crashed mid-collection must never be published
                    # into a catalog generation as torn reads.
                    missing = [
                        f
                        for f in orphan["files"]
                        if not os.path.exists(_abs_file(docs_root, f))
                    ]
                    if missing:
                        raise ConcurrentWriteError(
                            f"dataset-increment sink: orphan docs "
                            f"version {tcur} matches this delivery "
                            f"(batch_id={batch_id!r}) but "
                            f"{len(missing)} of its data files are "
                            f"missing (e.g. {missing[0]!r}) — a "
                            f"partial gc collected it; refusing to "
                            f"adopt torn state. Run "
                            f"catalog_gc_orphans to finish the sweep, "
                            f"then restart the stream."
                        )
                    versions[DOCS_MEMBER] = tcur
                else:
                    raise ConcurrentWriteError(
                        f"dataset-increment sink: docs member at "
                        f"{docs_root} is at version {tcur} but the "
                        f"catalog pins {pinned}, and the orphan is not "
                        f"this delivery (parent={orphan.get('parent')}, "
                        f"batch_id={orphan.get('extra', {}).get('batch_id')!r} "
                        f"vs {batch_id}) — another writer owns the "
                        f"table; refusing to append onto foreign state."
                    )
            else:
                versions[DOCS_MEMBER] = commit_version(
                    batch,
                    docs_root,
                    mode="append",  # the corpus only grows; O(batch)
                    extra={"batch_id": batch_id},
                    expected_parent=pinned,
                )
        else:
            # bootstrap: the first batch IS the corpus — the batch
            # fixture's table-commit core builds every artifact
            versions, paths = _commit_standing_tables(
                spark, batch, cat_root
            )
            versions[DOCS_MEMBER] = commit_version(
                batch, os.path.join(cat_root, "tables", DOCS_MEMBER)
            )
            rd = spark.read.parquet
            tokd = _retrain_and_reprice(
                rd(paths["rwf"]), rd(paths["skept"]), rd(paths["dwc"])
            )
        versions[DUMP_MEMBER] = commit_version(
            _shard_pack_plan(tokd),
            os.path.join(cat_root, "tables", DUMP_MEMBER),
            extra={"batch_id": batch_id},
        )
        # ONE atomic publish: dump + corpus + all indexes flip together
        catalog_commit(
            cat_root,
            {k: _member_spec(k, v) for k, v in versions.items()},
            expected_parent=cur,
            extra={"batch_id": batch_id},
        )
        if gc_every_n_batches and (batch_id + 1) % gc_every_n_batches == 0:
            # steady-state sweeps (VERDICT r16 #6): we ARE the single
            # catalog writer and our publish just landed, so nothing
            # above the new generation's references is an in-flight
            # delivery of ours — only the age gate's protection of a
            # foreign/raced writer remains needed
            from ..sources.versioned import catalog_expire, catalog_gc_orphans

            catalog_gc_orphans(cat_root, orphan_grace_s=gc_orphan_grace_s)
            if keep_last_generations:
                catalog_expire(
                    cat_root,
                    keep_last_generations,
                    orphan_grace_s=gc_orphan_grace_s,
                )

    return _apply
