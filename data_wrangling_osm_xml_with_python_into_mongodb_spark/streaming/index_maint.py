"""Streaming maintenance of the capped ref_docs index on mutable
storage -- the production shape of m10/m11 (VERDICT r10 #2).

The batch maintainer (operators/shape.apply_ref_docs_delta with
``cap``, m10) and the mutable-storage landing (CowTable MERGE, m11)
compose here into a continuously-maintained index: a document CDC stream
(full doc payloads tagged ``_op`` = insert|delete, exactly what any
CDC feed carries at delete time) drives ``foreachBatch``; each
micro-batch

1. MERGEs the document batch into the mutable ``documents`` CowTable
   (the corpus the capped refill path reads), then
2. computes the changes-only capped index delta
   (ref_docs_delta_changes with ``cap``: upserts + emptied-posting
   delete keys) against the index table's CURRENT snapshot, and
3. MERGEs that delta into the index CowTable -- only files containing
   touched refs rewrite.

Exactly-once by IDEMPOTENCE, the standard transactional-foreachBatch
recipe (same as the Mongo wire sink, sources/sinks.py:159): Spark's
replay contract redelivers an uncommitted batch with the SAME batchId
and rows after a restart; every CowTable commit records the batchId
it applied (``merge(meta=...)``, Delta's txnAppId/txnVersion
analogue), and the applier skips any table whose recorded batchId is
already at-or-beyond the incoming one.  A crash BETWEEN the two
merges therefore replays into "corpus already applied, index not" and
converges: the corpus merge no-ops, the index merge runs against the
txn-resolved PRE-IMAGE snapshot (time travel over the commit log), so
the old payloads it decrements are exactly what the index was built
from -- stable under replay, duplicate events, intra-batch
insert-then-delete, and upserts over live docs (the collapse-to-last
-event plus pre-image diff in the applier).

Scale shape: per micro-batch cost is O(batch + touched-files), never
O(corpus) -- the index is read (not shuffled; broadcast-only joins,
plan-asserted in tests/test_incremental_mview.py), the refill path
prunes the corpus read by a broadcast semi-join on flagged refs, and
the CowTable MERGE rewrites only affected files.  The reference's
analogue is drop-and-recreate of its ref index per run
(mongo_audit.py:271-329); this is the same result maintained
continuously with bounded per-batch work.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.shape import ref_docs_delta_changes
from ..sources.cow_table import CowTable

_DOC_CDC_COLS = (
    "_id string, doc_type string, node_refs array<string>, "
    "members array<struct<type:string,ref:string,role:string>>, _op string"
)


def last_applied_batch(table: CowTable, app_id: str) -> int:
    """Largest batchId this table has committed for ``app_id``; -1 if
    none.  O(1): every commit carries the cumulative per-app txn
    high-water map forward (CowTable.txn_version), so one head-commit
    read answers the idempotence check regardless of table age or
    interleaved compact commits -- the check can never creep as a
    long-lived stream accrues versions."""
    return table.txn_version(app_id)


def _version_before_batch(table: CowTable, app_id: str, batch_id: int) -> int:
    """Newest version whose txn high-water for ``app_id`` predates
    ``batch_id`` -- the PRE-IMAGE snapshot a replayed micro-batch must
    diff against.  In the normal flow this is the head (one commit-doc
    read: the head's high-water is batch_id - 1); on replay after a
    crash between the corpus and index merges it is the head's parent.
    Each step reads the CUMULATIVE high-water every commit carries
    (CowTable.txn_version_at), so a commit that landed after the batch
    without its own app_meta (e.g. a compact) still counts as
    containing it, and the walk is bounded by the replay horizon,
    never the log length."""
    for v in range(table.version(), -1, -1):
        if table.txn_version_at(v, app_id) < batch_id:
            return v
    raise RuntimeError(
        f"no snapshot of {table.path} predates batch {batch_id} for "
        f"{app_id} -- the create commit should always qualify"
    )


def read_doc_cdc_stream(
    spark: SparkSession,
    batches_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-source stream of document CDC batches: each parquet file in
    ``batches_dir`` is one batch of full-payload changes tagged
    ``_op`` in {'insert','delete'} (a delete carries the document as of
    deletion, which is what the delta maintainers need and what real
    CDC feeds provide).  ``maxFilesPerTrigger=1`` keeps one file per
    micro-batch -- deterministic batch boundaries for tests; production
    would raise it.

    Event ORDER ships as explicit columns, not partition layout: the
    producer appends files in sequence and writes rows in event order
    within each file, so (``_event_seq``, ``_event_file`` =
    ``_metadata.file_path``, ``_event_pos`` = ``_metadata.row_index``)
    totally orders a batch's events even when a micro-batch spans
    several CDC files (maxFilesPerTrigger > 1) or Spark splits one
    file across tasks -- the regimes where partition-id order (what
    monotonically_increasing_id encodes) is NOT event order, because
    the file source packs splits largest-first.

    FILE-ORDER CONTRACT: ``_event_seq`` is the trailing integer run of
    the file's basename (``batch7`` / ``batch007`` / ``batch_1000`` all
    yield their number), compared NUMERICALLY -- so an unpadded
    producer rolling past a digit boundary (``batch999`` ->
    ``batch1000``) still orders correctly, where bare lexicographic
    path order would put 1000 before 999 and let a resurrected insert
    win over a later delete.  Files with NO trailing number fall back
    to ``_event_seq = -1`` and order lexicographically by full path
    among themselves; a producer using non-numeric names must
    therefore name files so lexicographic order IS append order (or
    ship an explicit per-event ``_seq`` column, which the applier
    prefers to file order whenever present)."""
    reader = spark.readStream.schema(_DOC_CDC_COLS).option(
        "pathGlobFilter", "*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    return reader.parquet(batches_dir).select(
        "*",
        F.coalesce(
            F.regexp_extract(fname, r"(\d+)(?:\.[A-Za-z0-9]+)*$", 1).cast(
                "long"
            ),
            F.lit(-1).cast("long"),
        ).alias("_event_seq"),
        F.col("_metadata.file_path").alias("_event_file"),
        F.col("_metadata.row_index").alias("_event_pos"),
    )


def ref_docs_maintenance_batch_applier(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    cap: int,
    app_id: str = "ref_docs_maint",
    maintain_every: int | None = None,
    compact_target_rows: int = 100_000,
    retain_last: int = 2,
    vacuum_grace_s: float = 3600.0,
):
    """The ``foreachBatch`` body: apply one CDC micro-batch to the
    documents table and then to the capped ref_docs index, each merge
    idempotently keyed by (app_id, batchId).  Returned as a callable
    so tests can also drive it directly (e.g. forced redelivery).

    ``maintain_every=K`` runs the growth-control pass after every Kth
    batch: ``compact`` bin-packs the small files per-batch merges
    accumulate, ``vacuum(retain_last=...)`` physically drops expired
    snapshots' files, and the commit-log checkpoint (written
    automatically every ``checkpoint_interval`` commits) keeps every
    metadata walk O(interval).  All three are safe under the replay
    contract: compaction is a pure layout rewrite, vacuum never
    touches retained snapshots, and the idempotence check rides the
    cumulative txn map, which every commit -- including maintenance
    commits -- carries forward.  Together they bound a long-lived
    stream's file count AND metadata plane, where the naive shape
    accrues two commits and a handful of small files per micro-batch
    forever (pinned in tests/test_streaming_index_maint.py)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # A CDC batch may carry several events for one _id (insert
        # then delete, an update's delete+add pair, duplicate
        # upserts); the merges below are keyed per-_id, so collapse to
        # the LAST event per _id first.  Without this, a
        # delete-after-insert pair in one batch would resolve "source
        # row wins" (doc resurrected).  Ordering comes from explicit
        # event-position columns, never partition layout: the stream
        # ships (_event_file, _event_pos) from the file source's
        # _metadata (producer file sequence + in-file row index), a
        # producer-side _seq is honored when the feed carries one, and
        # only a directly-driven batch with neither (tests, ad-hoc
        # replays of single in-memory frames) falls back to
        # monotonically_increasing_id -- whose (partition, offset)
        # encoding matches event order ONLY there, because the file
        # source packs splits largest-first once a batch spans
        # multiple files or a file exceeds one split.
        from pyspark.sql import Window

        cols = set(batch_df.columns)
        if "_seq" in cols and {"_event_file", "_event_pos"} <= cols:
            # A producer-side per-event sequence outranks file order
            # whenever the feed carries both -- it is authoritative by
            # definition, and immune to any file-naming convention.
            order = [F.desc("_seq")]
            drop = ["_seq", "_event_file", "_event_pos"]
            if "_event_seq" in cols:
                drop.append("_event_seq")
        elif {"_event_file", "_event_pos"} <= cols:
            # File order: numeric filename sequence first (shipped by
            # read_doc_cdc_stream; -1 when the name has no trailing
            # number), then full path lexicographically as the
            # non-numeric fallback, then in-file row index.  The
            # numeric key is what keeps an unpadded producer correct
            # across digit-boundary rollovers (batch999 -> batch1000),
            # where path order alone would invert the two files.
            order = [F.desc("_event_file"), F.desc("_event_pos")]
            drop = ["_event_file", "_event_pos"]
            if "_event_seq" in cols:
                order = [F.desc("_event_seq")] + order
                drop.append("_event_seq")
        elif "_seq" in cols:
            order, drop = [F.desc("_seq")], ["_seq"]
        else:
            batch_df = batch_df.withColumn(
                "_seq", F.monotonically_increasing_id()
            )
            order, drop = [F.desc("_seq")], ["_seq"]
        w = Window.partitionBy("_id").orderBy(*order)
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", *drop)
        )
        # foreachBatch hands over an ephemeral view; the merges
        # traverse it several times (touch keys, affected files,
        # re-merge), so pin the batch once.  Batches are small by
        # contract -- this is delta-sized, not corpus-sized
        # (maxFilesPerTrigger bounds it in the shipped paths; a
        # misconfigured huge trigger would materialize the batch on
        # executors here).
        batch_df = batch_df.localCheckpoint(eager=True)
        ins = batch_df.filter(F.col("_op") == "insert").drop("_op")
        dels = batch_df.filter(F.col("_op") == "delete").drop("_op")
        corpus = CowTable(spark, corpus_path)
        index = CowTable(spark, index_path)
        meta = {"app_id": app_id, "batch_id": int(batch_id)}

        # Old-payload source for the index delta: the PRE-IMAGE corpus
        # snapshot -- the newest version whose txn high-water predates
        # this batch.  Event payloads are NOT trustworthy here: a
        # delete may target an _id created earlier in the same batch
        # (nothing to decrement), and an insert may overwrite a live
        # doc whose OLD refs -- not the event's -- are what the index
        # currently holds.  Version-pinning (rather than "the corpus
        # before the merge below") keeps the derivation replay-stable:
        # after a crash between the two merges, the corpus has already
        # absorbed the batch, and only the txn-resolved pre-image
        # still yields the correct old payloads.  retain_last on the
        # maintenance vacuum must cover the replay horizon (it does:
        # the pre-image is at most ~2 versions old on replay), exactly
        # Delta's retention guidance.
        pre_v = _version_before_batch(corpus, app_id, batch_id)
        if last_applied_batch(corpus, app_id) < batch_id:
            corpus.merge(
                ins, "_id", deletes=dels.select("_id"), retries=2, meta=meta
            )
        if last_applied_batch(index, app_id) < batch_id:
            # Key-pruned pre-image read: the commit log's file skipping
            # bounds the scan to files intersecting the batch's _id
            # envelope (O(touched range) on a clustered layout), then
            # the broadcast semi keeps only touched docs -- delta-sized.
            # Pinned eagerly: it feeds both the ref-envelope probe and
            # the delta core.
            env = batch_df.agg(
                F.min("_id").alias("lo"), F.max("_id").alias("hi")
            ).collect()[0]
            old_docs = corpus.read_range(
                "_id", env["lo"], env["hi"], version=pre_v
            ).join(
                F.broadcast(batch_df.select("_id").distinct()),
                "_id", "left_semi",
            ).localCheckpoint(eager=True)
            # The changes-only delta core uses the index ONLY to carve
            # out the touched postings (broadcast semi) -- so the index
            # read itself can be key-range pruned by the batch's REF
            # envelope: on a clustered index layout the per-batch index
            # read drops from O(index) to O(touched files), measured in
            # the bench's m15 read-volume block.  read_range's exact
            # filter keeps survivors ⊇ touched refs, so the semi-join
            # result is unchanged (files without stats scan -- pruning
            # is never a semantics change).
            from ..operators.shape import _ref_pairs

            renv = _ref_pairs(ins.unionByName(old_docs)).agg(
                F.min("ref").alias("lo"), F.max("ref").alias("hi")
            ).collect()[0]
            index_view = index.read_range("_id", renv["lo"], renv["hi"])
            ups, del_keys = ref_docs_delta_changes(
                index_view, ins, old_docs, cap=cap, corpus_after=corpus.read()
            )
            index.merge(ups, "_id", deletes=del_keys, retries=2, meta=meta)
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            for t in (corpus, index):
                t.compact(compact_target_rows, retries=2)
                t.vacuum(
                    retain_last=retain_last, orphan_grace_s=vacuum_grace_s
                )

    return _apply


def run_ref_docs_maintenance_stream(
    spark: SparkSession,
    batches_dir: str,
    corpus_path: str,
    index_path: str,
    cap: int,
    checkpoint_dir: str,
    app_id: str = "ref_docs_maint",
    maintain_every: int | None = None,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drive the CDC stream over the batch files currently in
    ``batches_dir`` and return once all are applied (restartable: the
    checkpoint remembers consumed files, the app_meta commits make
    redelivered batches no-ops).  ``maintain_every`` enables the
    in-loop growth control (see the applier);
    ``max_files_per_trigger`` > 1 is the production setting (several
    CDC files per micro-batch) -- event order stays correct there
    because the applier orders by the explicit (_event_file,
    _event_pos) columns, never partition layout."""
    stream = read_doc_cdc_stream(
        spark, batches_dir, max_files_per_trigger=max_files_per_trigger
    )
    q = (
        stream.writeStream.foreachBatch(
            ref_docs_maintenance_batch_applier(
                spark, corpus_path, index_path, cap, app_id,
                maintain_every=maintain_every,
            )
        )
        .option("checkpointLocation", os.path.join(checkpoint_dir, app_id))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
