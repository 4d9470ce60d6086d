"""Streaming twin of the capped index maintenance (VERDICT r10 #2).

A document CDC stream (full payloads tagged _op=insert|delete) drives
foreachBatch: each micro-batch MERGEs into the mutable documents
CowTable, then lands the changes-only capped index delta
(ref_docs_delta_changes with ``cap``) into the index CowTable.  Pinned here:

* stream result == capped full rebuild (m10's oracle shape) after
  every batch is consumed;
* checkpointed RESTART: a new batch file added after the query stops
  is picked up by a restarted query and only that batch applies;
* forced REDELIVERY of an already-applied batchId is a no-op for both
  tables (exactly-once by app_meta idempotence, the Mongo wire sink
  recipe);
* a half-applied crash (corpus merged, index not) converges on replay;
* file pruning holds under streaming maintenance (files_kept > 0).
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import (
    build_ref_docs,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (
    CowTable,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.streaming.index_maint import (
    last_applied_batch,
    ref_docs_maintenance_batch_applier,
    run_ref_docs_maintenance_stream,
)

DOC_COLS = (
    "_id string, doc_type string, node_refs array<string>, "
    "members array<struct<type:string,ref:string,role:string>>"
)
CAP = 2


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_COLS)


def _base_rows():
    rows = [
        ("w1", "way", ["n1"], None),
        ("w2", "way", ["n1"], None),
        ("w3", "way", ["n1"], None),
        ("w4", "way", ["n1"], None),
        ("w5", "way", ["n2"], None),
        ("w6", "way", ["n2"], None),
        ("w9", "way", ["n2"], None),
        ("wq", "way", ["nq"], None),  # nq empties out in batch 1
    ]
    rows += [(f"wp{i}", "way", [f"np{i}"], None) for i in range(16)]
    return rows


# CDC batches: (op, doc-row).  Deletes carry the payload as of
# deletion, as any CDC feed does.
_BATCHES = [
    [
        ("insert", ("w0", "way", ["n1", "n3"], None)),
        ("delete", ("w9", "way", ["n2"], None)),
    ],
    [
        # n1's cap-2 prefix loses w1 -> the refill path runs against
        # the post-batch corpus; wq's sole referrer goes -> delete key.
        ("delete", ("w1", "way", ["n1"], None)),
        ("delete", ("wq", "way", ["nq"], None)),
    ],
    [
        ("delete", ("w5", "way", ["n2"], None)),
        ("insert", ("w7", "way", ["n2", "n9"], None)),
    ],
]


def _batch_df(spark, batch):
    return spark.createDataFrame(
        [(*doc, op) for op, doc in batch], DOC_COLS + ", _op string"
    )


def _write_batch_file(spark, batch, batches_dir: str, n: int) -> None:
    """One parquet FILE per CDC batch (the stream runs
    maxFilesPerTrigger=1, so file == micro-batch), mtime-ordered so
    the source lists them in batch order."""
    rows = [(*doc, op) for op, doc in batch]
    df = spark.createDataFrame(
        rows, DOC_COLS + ", _op string"
    ).coalesce(1)
    tmp = os.path.join(batches_dir, f"_stage{n}")
    df.write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(batches_dir, f"batch{n:03d}.parquet")
    shutil.move(part, dst)
    shutil.rmtree(tmp)
    os.utime(dst, (1_700_000_000 + n, 1_700_000_000 + n))


def _apply_cdc(rows, batch):
    by_id = {r[0]: r for r in rows}
    for op, doc in batch:
        if op == "insert":
            by_id[doc[0]] = doc
        else:
            by_id.pop(doc[0], None)
    return sorted(by_id.values())


def _canon(df):
    return sorted(
        (r["_id"], tuple(r["refers"]), r["refer_count"]) for r in df.collect()
    )


@pytest.fixture()
def staged(spark, tmp_path):
    base = _docs(spark, _base_rows())
    corpus = CowTable.create(
        spark, str(tmp_path / "docs"), base.repartition(4, "_id")
    )
    # repartitionByRange, NOT repartition(4, "_id"): the index plan
    # already hash-partitions by the same key (groupBy ref), so a
    # same-key repartition is eliminated and AQE's coalesced single
    # partition would write ONE file, making pruning unobservable.
    index = CowTable.create(
        spark,
        str(tmp_path / "ref_docs"),
        build_ref_docs(base, cap=CAP).repartitionByRange(4, "_id"),
    )
    batches_dir = str(tmp_path / "cdc")
    os.makedirs(batches_dir)
    return corpus, index, batches_dir, str(tmp_path / "ckpt")


def test_stream_equals_capped_rebuild_and_restarts(spark, staged):
    corpus, index, batches_dir, ckpt = staged
    for n, b in enumerate(_BATCHES[:2]):
        _write_batch_file(spark, b, batches_dir, n)
    run_ref_docs_maintenance_stream(
        spark, batches_dir, corpus.path, index.path, CAP, ckpt
    )
    rows = _base_rows()
    for b in _BATCHES[:2]:
        rows = _apply_cdc(rows, b)
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index.read()) == _canon(want)
    assert sorted(r["_id"] for r in corpus.read().collect()) == [
        r[0] for r in rows
    ]
    # the refill actually ran: n1's prefix pulled the b0-inserted w0
    n1 = {r["_id"]: r for r in index.read().collect()}["n1"]
    assert list(n1["refers"]) == ["w0", "w2"] and n1["refer_count"] == 4
    # nq emptied out -> removed from the index
    assert "nq" not in {r["_id"] for r in index.read().collect()}

    # checkpointed restart: drop in batch 2, run a NEW query on the
    # same checkpoint -- only the new file is consumed.
    v_before = (corpus.version(), index.version())
    _write_batch_file(spark, _BATCHES[2], batches_dir, 2)
    run_ref_docs_maintenance_stream(
        spark, batches_dir, corpus.path, index.path, CAP, ckpt
    )
    rows = _apply_cdc(rows, _BATCHES[2])
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index.read()) == _canon(want)
    assert last_applied_batch(index, "ref_docs_maint") == 2
    # exactly one more commit per table (batch 2), not a replay of 0/1
    assert corpus.version() == v_before[0] + 1
    assert index.version() == v_before[1] + 1
    # Pruning evidence: batch 0 touches 3 refs (n1, n2, n3) spread
    # over 4 creation-time files, so at least one file must carry by
    # reference.  (Later commits may legitimately keep 0 files: each
    # merge consolidates its small rewritten slice into one output
    # file, so a tiny table converges to a single file -- compact()
    # exists to manage that layout at scale.)
    assert index._commit_doc(1)["op"] == "merge"
    assert index._commit_doc(1)["files_kept"] > 0


def test_redelivered_batch_is_noop(spark, staged):
    """Spark's replay contract redelivers an uncommitted batch with the
    same batchId after a restart; the app_meta guard must make the
    second delivery a no-op on BOTH tables."""
    corpus, index, _batches_dir, _ckpt = staged
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    b0 = _batch_df(spark, _BATCHES[0])
    applier(b0, 0)
    state = (_canon(index.read()), corpus.version(), index.version())
    applier(b0, 0)  # forced redelivery
    assert (_canon(index.read()), corpus.version(), index.version()) == state
    assert last_applied_batch(corpus, "ref_docs_maint") == 0
    assert last_applied_batch(index, "ref_docs_maint") == 0


def test_half_applied_crash_converges(spark, staged):
    """Crash between the corpus merge and the index merge: on replay
    the corpus merge no-ops (its batchId is recorded) and the index
    merge runs -- the final state equals the clean path."""
    corpus, index, _batches_dir, _ckpt = staged
    b0 = _batch_df(spark, _BATCHES[0])
    ins = b0.filter(F.col("_op") == "insert").drop("_op")
    dels = b0.filter(F.col("_op") == "delete").drop("_op")
    # simulate the crash: only the corpus merge of batch 0 landed
    corpus.merge(
        ins, "_id", deletes=dels.select("_id"),
        meta={"app_id": "ref_docs_maint", "batch_id": 0},
    )
    v_corpus = corpus.version()
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    applier(b0, 0)  # replay
    assert corpus.version() == v_corpus  # corpus skipped
    rows = _apply_cdc(_base_rows(), _BATCHES[0])
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index.read()) == _canon(want)


def test_long_stream_growth_stays_bounded(spark, tmp_path):
    """VERDICT r11 #3: a LONG-lived maintained stream (105 micro-
    batches here) must not let the table's physical or metadata plane
    creep.  The applier's in-loop growth control (maintain_every=10:
    compact + vacuum(retain_last=2); commit-log checkpoints every 10
    commits automatically) is pinned to keep (a) live snapshot files
    and on-disk files bounded -- the naive shape accrues 1-2 files per
    commit, ~400+ over this run -- (b) the idempotence check at ONE
    commit-doc read regardless of the ~200-version log, and (c) the
    final state byte-equal to a capped rebuild of the surviving
    corpus.  This is the m15 shape a year-old production table lives
    in."""
    n_batches = 105
    corpus_t = CowTable.create(
        spark, str(tmp_path / "docs"),
        _docs(spark, _base_rows()).coalesce(1),
    )
    index_t = CowTable.create(
        spark, str(tmp_path / "idx"),
        build_ref_docs(_docs(spark, _base_rows()), cap=CAP).coalesce(1),
    )
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus_t.path, index_t.path, CAP,
        maintain_every=10, compact_target_rows=100_000,
        retain_last=2, vacuum_grace_s=0.0,
    )
    rows = _base_rows()
    for b in range(n_batches):
        batch = [("insert", (f"x{b}", "way", [f"n{b % 5}", f"m{b % 7}"], None))]
        if b % 3 == 2:  # a delete every third batch
            batch.append(
                ("delete", (f"x{b - 2}", "way",
                            [f"n{(b - 2) % 5}", f"m{(b - 2) % 7}"], None))
            )
        applier(_batch_df(spark, batch), b)
        rows = _apply_cdc(rows, batch)

    # (c) correctness after 105 batches of maintained deltas
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index_t.read()) == _canon(want)
    assert sorted(r["_id"] for r in corpus_t.read().collect()) == [
        r[0] for r in rows
    ]

    for t in (corpus_t, index_t):
        head = t.version()
        assert head >= n_batches  # one+ commit per batch: a LONG log
        # (a) physical plane bounded: live snapshot files compacted,
        # on-disk files vacuumed (≤ ~2 per commit since the last
        # maintenance pass, nowhere near one-per-commit-forever)
        assert len(t.files()) <= 8
        on_disk = [
            x
            for r, _, xs in os.walk(os.path.join(t.path, "data"))
            for x in xs
            if x.endswith(".parquet")
        ]
        assert len(on_disk) <= 40
        # (b) metadata plane bounded: the checkpoint manifest tracks
        # the head within one interval, and the idempotence check
        # reads exactly ONE commit doc (the cumulative txn map)
        ck = t._read_last_checkpoint()
        assert ck is not None and head - ck["version"] < 10
        reads = []
        orig = CowTable._commit_doc
        try:
            CowTable._commit_doc = (
                lambda self, v: (reads.append(v), orig(self, v))[1]
            )
            assert last_applied_batch(t, "ref_docs_maint") == n_batches - 1
            assert len(reads) == 1
        finally:
            CowTable._commit_doc = orig


def test_intra_batch_events_collapse_to_last_per_id(spark, staged):
    """Round-11 ADVICE: one CDC batch may carry several events for the
    same _id.  The applier must resolve each _id to its LAST event in
    feed order -- insert-then-delete leaves the doc absent (the old
    full-outer merge resolved it 'source row wins', resurrecting it),
    delete-then-reinsert leaves the new payload, and duplicate inserts
    land exactly one row."""
    corpus, index, _batches_dir, _ckpt = staged
    batch = [
        ("insert", ("wz", "way", ["n1", "nz"], None)),
        ("delete", ("wz", "way", ["n1", "nz"], None)),   # last wz: gone
        ("delete", ("w9", "way", ["n2"], None)),
        ("insert", ("w9", "way", ["n8"], None)),          # last w9: moved
        ("insert", ("wd", "way", ["n1"], None)),
        ("insert", ("wd", "way", ["nd"], None)),          # dup insert: last
    ]
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    applier(_batch_df(spark, batch), 0)
    rows = _apply_cdc(_base_rows(), batch)
    got_ids = sorted(r["_id"] for r in corpus.read().collect())
    assert got_ids == [r[0] for r in rows]       # wz absent, no dup wd
    assert "wz" not in got_ids
    by_id = {r[0]: r for r in rows}
    assert by_id["w9"][2] == ["n8"] and by_id["wd"][2] == ["nd"]
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index.read()) == _canon(want)


def test_upsert_over_live_doc_moves_index_refs(spark, staged):
    """An insert event for an _id that ALREADY exists is an update:
    the index must drop the doc's OLD refs (which only the pre-image
    corpus knows -- the event carries the new payload) and add the new
    ones.  Split across two batches to also pin the txn-resolved
    pre-image advancing between batches."""
    corpus, index, _batches_dir, _ckpt = staged
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    b0 = [("insert", ("w2", "way", ["n7"], None))]   # w2: n1 -> n7
    b1 = [("insert", ("w2", "way", ["n1"], None))]   # w2: n7 -> back to n1
    rows = _base_rows()
    for n, b in enumerate((b0, b1)):
        applier(_batch_df(spark, b), n)
        rows = _apply_cdc(rows, b)
        want = build_ref_docs(_docs(spark, rows), cap=CAP)
        assert _canon(index.read()) == _canon(want)
    got = {r["_id"]: r for r in index.read().collect()}
    assert "n7" not in got                    # transient ref fully gone
    assert got["n1"]["refer_count"] == 4      # w1..w4 again


def test_multifile_batch_event_order_is_file_then_row(spark, staged):
    """Round-12 ADVICE #1: with maxFilesPerTrigger > 1 (the documented
    production setting) one micro-batch spans several CDC files, and
    Spark packs input splits LARGEST-FIRST -- so partition-id order
    (monotonically_increasing_id) is not event order.  Layout here
    makes the inversion real: the earlier file carries only the insert
    of wz (tiny), the later file its delete plus padding (large), so
    the delete lands in partition 0 with the SMALLER monotonic ids.
    Ordering by the explicit (_event_file, _event_pos) columns must
    resolve wz to its delete; id-ordering would resurrect it."""
    corpus, index, batches_dir, ckpt = staged
    b0 = [("insert", ("wz", "way", ["n1", "nz"], None))]
    b1 = [("delete", ("wz", "way", ["n1", "nz"], None))] + [
        ("insert", (f"pad{i}", "way", [f"padref{i % 3}"], None))
        for i in range(200)
    ]
    _write_batch_file(spark, b0, batches_dir, 0)
    _write_batch_file(spark, b1, batches_dir, 1)
    run_ref_docs_maintenance_stream(
        spark, batches_dir, corpus.path, index.path, CAP, ckpt,
        max_files_per_trigger=2,
    )
    rows = _apply_cdc(_apply_cdc(_base_rows(), b0), b1)
    got_ids = sorted(r["_id"] for r in corpus.read().collect())
    assert "wz" not in got_ids            # delete (later file) won
    assert got_ids == [r[0] for r in rows]
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index.read()) == _canon(want)
    assert "nz" not in {r["_id"] for r in index.read().collect()}


def test_preimage_resolution_skips_postbatch_legacy_commit(spark, staged):
    """Round-12 ADVICE #2: a commit without its own app_meta that lands
    AFTER a batch (a compact) still contains that batch's data --
    _version_before_batch must not hand it back as the pre-image.  The
    cumulative txn map every commit carries (CowTable.txn_version_at)
    resolves the compact's true high-water."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.streaming.index_maint import (
        _version_before_batch,
    )

    corpus, index, _batches_dir, _ckpt = staged
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    applier(_batch_df(spark, _BATCHES[0]), 0)  # corpus v1 applies batch 0
    corpus.compact(100_000)                    # v2 contains batch 0's data
    head = corpus.version()
    assert head == 2
    assert "app_meta" not in corpus._commit_doc(head)
    # the pre-image of batch 0 is the CREATE snapshot, not the compact
    # that already absorbed the batch
    assert corpus.txn_version_at(head, "ref_docs_maint") == 0
    assert _version_before_batch(corpus, "ref_docs_maint", 0) == 0
    assert _version_before_batch(corpus, "ref_docs_maint", 1) == head
    # and the idempotence guard still sees batch 0 as applied: a
    # forced redelivery after the compact stays a no-op
    state = (_canon(index.read()), corpus.version(), index.version())
    applier(_batch_df(spark, _BATCHES[0]), 0)
    assert (_canon(index.read()), corpus.version(), index.version()) == state


def test_applier_honors_producer_seq_column(spark, staged):
    """Contract extension: a CDC feed may ship its own ``_seq``
    ordering column (Debezium-style LSN/offset).  The applier must
    order by it -- here the delete is FIRST in row order (so the
    partition-id fallback would resolve the insert as last and keep
    the doc) but LAST by _seq, so the doc must come out deleted."""
    corpus, index, _batches_dir, _ckpt = staged
    rows = [
        ("wz", "way", ["n1"], None, "delete", 1),
        ("wz", "way", ["n1"], None, "insert", 0),
    ]
    batch = spark.createDataFrame(
        rows, DOC_COLS + ", _op string, _seq long"
    ).coalesce(1)
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    applier(batch, 0)
    assert "wz" not in {r["_id"] for r in corpus.read().collect()}


def test_multifile_batch_order_survives_digit_rollover(spark, staged):
    """Round-13 ADVICE #1: the producer names CDC files batch{n:03d},
    which is zero-padded only up to n=999 -- 'batch1000.parquet' sorts
    lexicographically BEFORE 'batch999.parquet'.  If the applier
    ordered by the raw file path, a delete in file 1000 would lose to
    an insert in file 999 inside one micro-batch and resurrect the
    doc.  The stream ships _event_seq (the filename's trailing integer,
    compared numerically), so the rollover pair must still resolve to
    the later file's delete."""
    corpus, index, batches_dir, ckpt = staged
    b999 = [("insert", ("wz", "way", ["n1", "nz"], None))]
    b1000 = [("delete", ("wz", "way", ["n1", "nz"], None))] + [
        ("insert", (f"pad{i}", "way", [f"padref{i % 3}"], None))
        for i in range(200)
    ]
    _write_batch_file(spark, b999, batches_dir, 999)
    _write_batch_file(spark, b1000, batches_dir, 1000)
    assert sorted(os.listdir(batches_dir))[0] == "batch1000.parquet"
    run_ref_docs_maintenance_stream(
        spark, batches_dir, corpus.path, index.path, CAP, ckpt,
        max_files_per_trigger=2,
    )
    rows = _apply_cdc(_apply_cdc(_base_rows(), b999), b1000)
    got_ids = sorted(r["_id"] for r in corpus.read().collect())
    assert "wz" not in got_ids            # numerically-later delete won
    assert got_ids == [r[0] for r in rows]
    want = build_ref_docs(_docs(spark, rows), cap=CAP)
    assert _canon(index.read()) == _canon(want)
    assert "nz" not in {r["_id"] for r in index.read().collect()}


def test_foreign_commit_mid_batch_forces_rebase_and_converges(spark, staged):
    """Round-13 VERDICT #6: a THIRD-PARTY writer lands commits between
    a batch's corpus merge and index merge -- (a) a corpus compact
    moves the corpus head mid-batch, and (b) a foreign disjoint-key
    index merge steals the exact version the applier's index merge is
    about to commit, forcing its optimistic attempt into
    ConcurrentWriteError and the retries=2 rebase to re-plan against
    the moved head.  Pinned: the race actually fired, the rebase
    landed (not swallowed, not conflicted), the foreign row survived
    the rebased merge's carry-over, and after draining the remaining
    batches the maintained keys equal the capped rebuild oracle."""
    corpus, index, _batches_dir, _ckpt = staged
    applier = ref_docs_maintenance_batch_applier(
        spark, corpus.path, index.path, CAP
    )
    foreign = spark.createDataFrame(
        [("zzforeign", ["w1"], 1)],
        "_id string, refers array<string>, refer_count long",
    )
    orig_commit = CowTable._commit
    fired = {}

    def racing_commit(self, version, files, op, stats):
        if self.path == index.path and op == "merge" and not fired:
            fired["stolen_version"] = version
            CowTable._commit = orig_commit  # unpatch before foreign ops
            # (a) corpus maintenance lands mid-batch: moved corpus head
            CowTable(spark, corpus.path).compact(100_000)
            # (b) foreign index writer takes THIS version first
            CowTable(spark, index.path).merge(foreign, "_id")
        return orig_commit(self, version, files, op, stats)

    CowTable._commit = racing_commit
    try:
        applier(_batch_df(spark, _BATCHES[0]), 0)
    finally:
        CowTable._commit = orig_commit
    assert fired                                   # the race happened
    assert last_applied_batch(index, "ref_docs_maint") == 0  # rebase landed
    assert last_applied_batch(corpus, "ref_docs_maint") == 0
    # foreign commit holds the stolen version; the applier's merge sits
    # above it
    assert index.version() == fired["stolen_version"] + 1
    for n, b in enumerate(_BATCHES[1:], start=1):
        applier(_batch_df(spark, b), n)
    rows = _base_rows()
    for b in _BATCHES:
        rows = _apply_cdc(rows, b)
    want = _canon(build_ref_docs(_docs(spark, rows), cap=CAP))
    got = _canon(index.read())
    # the foreign row rode through every rebase/merge untouched ...
    assert ("zzforeign", ("w1",), 1) in got
    # ... and the MAINTAINED keys converge to the rebuild oracle
    assert [r for r in got if r[0] != "zzforeign"] == want


# -- feed-driven maintenance under Structured Streaming delivery ------
# (VERDICT r15 next #5: m24 proves the no-pre-image-read maintainer on
# read_changes ranges / a drained feed; this drives the SAME maintainer
# from stream_changes' live micro-batches -- committed-only default --
# applying per commit version with time-traveled refill corpora, and
# pins stream == batch rebuild.)


def test_feed_driven_maintenance_streamed(spark, tmp_path):
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import (
        apply_ref_docs_delta,
    )
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.streaming.change_feed import (
        stream_changes,
    )

    corpus = CowTable.create(
        spark,
        str(tmp_path / "docs"),
        _docs(spark, _base_rows()).repartition(4),
        change_feed=True,
    )
    state = {
        "idx": build_ref_docs(corpus.read(), cap=CAP).localCheckpoint(
            eager=True
        ),
        "batches": 0,
        "versions": [],
    }

    # two mutation commits AFTER the base index was built: a CoW merge
    # (insert + upsert + delete) and a DV delete -- the feed's
    # update_preimage/delete rows ARE the pre-images the maintainer
    # decrements; it never reads a pre-image corpus snapshot.
    corpus.merge(
        _docs(
            spark,
            [
                ("w0", "way", ["n1", "n3"], None),  # insert (new ref n3)
                ("w2", "way", ["n2"], None),        # upsert: n1 -> n2
            ],
        ),
        "_id",
        deletes=_docs(spark, [("wq", "way", ["nq"], None)]).select("_id"),
    )
    corpus.delete("_id", values=["w1"])  # dv: n1's cap prefix refills

    # A commit's change set may span several files, and a small
    # maxFilesPerTrigger can split ONE commit across micro-batches --
    # the maintainer must apply complete commits only, so the absorber
    # buffers rows per version and applies a version once the file
    # count it has seen matches what that version's commit doc lists
    # (the same validate-against-the-log source of truth the
    # committed-only stream already uses).
    pending: dict = {}

    def absorb(batch_df, _bid):
        state["batches"] += 1
        pinned = batch_df.localCheckpoint(eager=True)
        for v in sorted(
            r[0]
            for r in pinned.select("_commit_version").distinct().collect()
        ):
            part = pinned.filter(F.col("_commit_version") == v)
            ent = pending.setdefault(v, {"files": set(), "df": None})
            ent["files"].update(
                r[0] for r in part.select("_change_file").distinct().collect()
            )
            ent["df"] = (
                part if ent["df"] is None else ent["df"].unionByName(part)
            )
        while pending:
            v = min(pending)
            need = len(corpus._commit_doc(v).get("change_files", []))
            if len(pending[v]["files"]) < need:
                break
            part = pending.pop(v)["df"]
            payload = [c for c in part.columns if not c.startswith("_c")]
            adds = part.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select(*payload)
            rems = part.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            ).select(*payload)
            # refill corpus = the snapshot AS OF this commit (time
            # travel), so delivery applies each commit against
            # exactly the state it produced.
            state["idx"] = apply_ref_docs_delta(
                state["idx"], adds, rems,
                cap=CAP, corpus_after=corpus.read(version=v),
            ).localCheckpoint(eager=True)
            state["versions"].append(v)

    q = (
        stream_changes(spark, corpus.path, max_files_per_trigger=1)
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert state["versions"] == [1, 2], state["versions"]
    assert state["batches"] >= 2, "maxFilesPerTrigger=1 should split"
    want = sorted(
        tuple(r) for r in build_ref_docs(corpus.read(), cap=CAP).collect()
    )
    got = sorted(tuple(r) for r in state["idx"].collect())
    assert got == want
