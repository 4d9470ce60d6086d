"""CowTable change data feed (Delta's ``table_changes`` surface):
mutation commits on a ``change_feed=True`` table record their
row-level change set -- ``insert`` / ``update_preimage`` /
``update_postimage`` / ``delete`` -- in commit-referenced change
files, and :meth:`read_changes` replays any version range.  The
invariants pinned here:

* change-type correctness per mutation path (cow merge, mor merge,
  dv delete), incl. the delete-then-upsert edge (key in both frames
  feeds as an update, matching the merge contract);
* the feed REPLAYS: v0 inserts + every commit's changes reconstruct
  the head snapshot row-for-row;
* cow and mor emit the SAME feed for the same mutation;
* a mutation commit from before enablement raises instead of
  silently returning a partial feed;
* vacuum GCs expired change files and keeps retained ones.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (  # noqa: E402
    ChangesVacuumedError,
    CowTable,
)


def _mk(spark, tmp_path, name, feed=True, parts=2, n=20):
    df = (
        spark.range(n)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartition(parts)
    )
    return CowTable.create(
        spark, str(tmp_path / name), df, change_feed=feed
    )


def _feed(t, lo, hi=None):
    return sorted(
        tuple(r)
        for r in t.read_changes(lo, hi)
        .select("k", "v", "_change_type", "_commit_version")
        .collect()
    )


def test_cdf_change_types_across_all_paths(spark, tmp_path):
    """One commit per mutation path; every row of the feed is exactly
    the Delta change type the mutation implies."""
    t = _mk(spark, tmp_path, "t")
    # v1 cow merge: update k=5 (also in deletes -> update, not delete),
    # insert k=100, delete k=7
    t.merge(
        spark.createDataFrame([(5, 555), (100, 1000)], "k long, v long"),
        "k",
        deletes=spark.createDataFrame([(7,), (5,)], "k long"),
    )
    # v2 mor merge: update k=6, insert k=200
    t.merge(
        spark.createDataFrame([(6, 666), (200, 2000)], "k long, v long"),
        "k",
        strategy="mor",
    )
    # v3 dv delete: k=3
    t.delete("k", values=[3])

    assert _feed(t, 1, 1) == [
        (5, 50, "update_preimage", 1),
        (5, 555, "update_postimage", 1),
        (7, 70, "delete", 1),
        (100, 1000, "insert", 1),
    ]
    assert _feed(t, 2, 2) == [
        (6, 60, "update_preimage", 2),
        (6, 666, "update_postimage", 2),
        (200, 2000, "insert", 2),
    ]
    assert _feed(t, 3, 3) == [(3, 30, "delete", 3)]
    # create reads back as inserts straight from its data files
    v0 = t.read_changes(0, 0)
    assert v0.count() == 20
    assert v0.select("_change_type").distinct().collect()[0][0] == "insert"


def test_cdf_mor_and_cow_emit_identical_feeds(spark, tmp_path):
    """Same mutation through both strategies -> byte-identical change
    sets (the feed describes the LOGICAL change, not the layout)."""
    cow = _mk(spark, tmp_path, "cow")
    mor = _mk(spark, tmp_path, "mor")
    src = spark.createDataFrame([(5, -5), (300, 3000)], "k long, v long")
    dels = spark.createDataFrame([(11,)], "k long")
    cow.merge(src, "k", deletes=dels)
    mor.merge(src, "k", deletes=dels, strategy="mor")
    assert _feed(cow, 1, 1) == _feed(mor, 1, 1)


def test_cdf_replay_reconstructs_head(spark, tmp_path):
    """Applying the feed over the v0 inserts reproduces the head
    snapshot exactly -- the property a downstream replicator relies
    on."""
    t = _mk(spark, tmp_path, "rp", n=30)
    t.merge(
        spark.createDataFrame([(4, 44), (77, 770)], "k long, v long"),
        "k",
        deletes=spark.createDataFrame([(9,)], "k long"),
    )
    t.merge(
        spark.createDataFrame([(15, 150), (88, 880)], "k long, v long"),
        "k",
        strategy="mor",
    )
    t.delete("k", values=[2, 77])
    state: dict = {}
    rows = (
        t.read_changes(0)
        .select("k", "v", "_change_type", "_commit_version")
        .collect()
    )
    # within a commit, removals (delete / update_preimage) apply
    # before additions (insert / update_postimage)
    order = {"delete": 0, "update_preimage": 0}
    for r in sorted(
        rows,
        key=lambda r: (
            r["_commit_version"], order.get(r["_change_type"], 1)
        ),
    ):
        if r["_change_type"] in ("delete", "update_preimage"):
            state.pop(r["k"], None)
        else:  # insert / update_postimage
            state[r["k"]] = r["v"]
    head = {r["k"]: r["v"] for r in t.read().collect()}
    assert state == head


def test_cdf_disabled_commit_raises(spark, tmp_path):
    t = _mk(spark, tmp_path, "off", feed=False)
    t.merge(spark.createDataFrame([(1, -1)], "k long, v long"), "k")
    with pytest.raises(ValueError, match="change feed"):
        t.read_changes(1).collect()
    # the create version alone still reads (derived inserts)
    assert t.read_changes(0, 0).count() == 20
    with pytest.raises(ValueError, match="invalid change range"):
        t.read_changes(5)


def test_cdf_schema_evolution_rows(spark, tmp_path):
    """An evolving merge's change rows carry the new column; the
    pre-image (written under the old schema) reads it as NULL."""
    t = _mk(spark, tmp_path, "ev")
    src = spark.createDataFrame([(5, -5, "x")], "k long, v long, tag string")
    t.merge(src, "k", evolve_schema=True)
    got = {
        (r["_change_type"]): (r["v"], r["tag"])
        for r in t.read_changes(1, 1).collect()
    }
    assert got["update_preimage"] == (50, None)
    assert got["update_postimage"] == (-5, "x")


def test_cdf_vacuum_gc(spark, tmp_path):
    """Expired commits' change files are GC'd (their snapshots are
    unreadable anyway); retained ones survive and still read."""
    t = _mk(spark, tmp_path, "gc")
    for i in range(3):
        t.merge(
            spark.createDataFrame([(i, -i)], "k long, v long"), "k"
        )
    chg_root = os.path.join(t.path, "changes")
    n_before = sum(len(fs) for _, _, fs in os.walk(chg_root))
    summary = t.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert summary["changes_deleted"] > 0
    n_after = sum(len(fs) for _, _, fs in os.walk(chg_root))
    assert n_after < n_before
    # the retained head commit's feed still reads
    assert t.read_changes(3, 3).count() == 2
    # expired feed fails cleanly on action (files gone)
    with pytest.raises(Exception):
        t.read_changes(1, 1).collect()


def test_cdf_vacuumed_range_raises_named_error(spark, tmp_path):
    """A range whose change files vacuum removed raises a named error
    naming the first unreadable version, at call time (not a raw
    PATH_NOT_FOUND on the first action); the retained head still
    reads."""
    t = _mk(spark, tmp_path, "vac")
    for i in range(3):
        t.merge(spark.createDataFrame([(i, -i)], "k long, v long"), "k")
    t.vacuum(retain_last=1, orphan_grace_s=0)
    head = t.version()
    with pytest.raises(ChangesVacuumedError, match="version 1 "):
        t.read_changes(1)
    assert t.read_changes(head).count() > 0


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_cdf_preimage_pin_released(spark, tmp_path):
    """The change-feed dv delete and mor merge read their pre-image
    from the pinned position harvest; the pin is released once the
    change files are written, so a long-lived session holds no
    persisted RDD per mutation."""
    t = _mk(spark, tmp_path, "pin")
    before = _persistent_rdds(spark)
    t.delete("k", values=[3])
    assert _persistent_rdds(spark) == before
    t.merge(
        spark.createDataFrame([(6, 66), (200, 2000)], "k long, v long"),
        "k",
        strategy="mor",
    )
    assert _persistent_rdds(spark) == before
    assert {r["_change_type"] for r in t.read_changes(1).collect()} == {
        "delete", "update_preimage", "update_postimage", "insert",
    }


def test_cdf_rows_carry_only_table_columns(spark, tmp_path):
    """Change rows of every mutation path carry the table columns plus
    ``_change_type`` / ``_commit_version`` -- never the position
    harvest's internal file/row-index columns (a dv delete and a mor
    merge once leaked ``__dvf`` / ``__dvp`` into the feed)."""
    t = _mk(spark, tmp_path, "cols")
    t.delete("k", values=[3])
    t.merge(
        spark.createDataFrame([(6, 66), (200, 2000)], "k long, v long"),
        "k",
        strategy="mor",
    )
    t.merge(spark.createDataFrame([(7, 77)], "k long, v long"), "k")
    want = ["k", "v", "_change_type", "_commit_version"]
    for v in (1, 2, 3):
        assert t.read_changes(v, v).columns == want, v
    assert t.read_changes(0).columns == want
