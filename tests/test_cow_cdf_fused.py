"""The change-feed write of the mutation layer (sources/cow_table.py
``_classify`` + ``_write_data_files``): a change-feed cow merge reads
the rewritten files' live rows ONCE and one partitioned staging write
emits data files and change files together.  Invariants pinned here:

* data files physically carry a hidden all-NULL ``_change_type``
  column, and every reader surface (snapshot read, recorded schema)
  projects it away;
* the per-mutation Spark JOB budget: every keyed mutation path (cow
  and mor merge, cow and dv delete, insert-only merge) runs within its
  job ceiling with the change feed and the bloom index each on or off,
  and an oversized merge batch pays no discarded aggregation;
* the bulk matched-key path (> _MATCHED_INLINE_MAX triples) pins the
  matched set as a localCheckpoint instead of driver literals, and
  still produces the exact feed;
* a losing racer's output (data dir, change dir, staging dir) is
  cleaned up;
* a dv delete's change files stay few when a caller-built session has
  AQE off.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import (  # noqa: E402
    cow_table as ct_mod,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (  # noqa: E402
    CowTable,
)


def _mk(spark, tmp_path, name, n=40, parts=2):
    df = (
        spark.range(n)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartition(parts)
    )
    return CowTable.create(
        spark, str(tmp_path / name), df, change_feed=True
    )


def _feed(t, lo, hi=None):
    return sorted(
        tuple(r)
        for r in t.read_changes(lo, hi)
        .select("k", "v", "_change_type")
        .collect()
    )


def _merge_once(spark, t):
    """The canonical mixed mutation: update k=5, insert k=100,
    delete k=7."""
    t.merge(
        spark.createDataFrame([(5, 555), (100, 1000)], "k long, v long"),
        "k",
        deletes=spark.createDataFrame([(7,)], "k long"),
    )
    return [
        (5, 50, "update_preimage"),
        (5, 555, "update_postimage"),
        (7, 70, "delete"),
        (100, 1000, "insert"),
    ]


def test_fused_data_files_hide_change_type(spark, tmp_path):
    t = _mk(spark, tmp_path, "hide")
    expect = _merge_once(spark, t)
    assert _feed(t, 1, 1) == expect
    doc = t._commit_doc(1)
    new_files = [
        f for f in doc["files"] if os.path.basename(f) not in {
            os.path.basename(g) for g in t._commit_doc(0)["files"]
        }
    ]
    assert new_files, "fused merge wrote no data files"
    # the raw parquet carries the hidden column, all NULL
    raw = spark.read.parquet(*new_files)
    assert "_change_type" in raw.columns
    assert raw.filter(F.col("_change_type").isNotNull()).count() == 0
    # ...but no reader surface shows it
    assert "_change_type" not in t.read().columns
    rec = [f["name"] for f in doc["schema"]["fields"]]
    assert "_change_type" not in rec
    # snapshot content is the merged row set
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == 555 and got[100] == 1000 and 7 not in got
    # no staging leftovers
    stage = os.path.join(t.path, "_stage")
    assert not os.path.isdir(stage) or os.listdir(stage) == []


def test_fused_merge_job_budget(spark, tmp_path):
    """One CDF cow merge = a bounded driver-job count: the touch
    probe, the detection collect, and ONE staging write."""
    t = _mk(spark, tmp_path, "budget")
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    _merge_once(spark, t)
    after = set(st.getJobIdsForGroup(None))
    n_jobs = len(after - before)
    assert n_jobs <= 10, (
        f"CDF merge ran {n_jobs} driver jobs -- the fused write "
        "budget (<=10, measured 8-9 incl. AQE stage jobs) regressed"
    )


def _jobs(spark, fn) -> int:
    """Spark jobs one call runs (all of them are ungrouped here)."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    fn()
    return len(set(st.getJobIdsForGroup(None)) - before)


# Per-op job ceilings, measured at local[4] with shuffle_partitions=4
# on the pre-unification writers (one change classifier per path), and
# for the reads (plan + collect) before the file-skipping planner:
# (feed on + bloom, feed on, feed off + bloom, feed off).
_JOB_CEILINGS = {
    "cow merge": (8, 8, 7, 7),
    "dv delete": (8, 8, 6, 6),
    "cow delete": (10, 9, 9, 8),
    "mor merge": (17, 18, 9, 10),
    "insert-only merge": (7, 7, 3, 3),
    "read_point": (2, 2, 2, 2),
    "read_point over cap": (5, 3, 5, 3),
    "read_ranges": (2, 2, 2, 2),
}
_BUDGET_SETUPS = [(True, True), (True, False), (False, True), (False, False)]


@pytest.mark.parametrize(
    "feed,bloom",
    _BUDGET_SETUPS,
    ids=[f"feed{int(f)}-bloom{int(b)}" for f, b in _BUDGET_SETUPS],
)
def test_mutation_job_budget(spark, tmp_path, monkeypatch, feed, bloom):
    """Every keyed mutation path stays within its job ceiling, with the
    change feed and the bloom index each on or off: cow merge, dv
    delete, cow delete, mor merge and an insert-only merge, in that
    order on one 4,000-row, 8-file table; then the reads that share
    their file-skipping planner -- a point lookup within and past the
    driver-probe cap, and a range read."""
    df = (
        spark.range(4000)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartition(8)
    )
    t = CowTable.create(
        spark, str(tmp_path / "jobs"), df,
        bloom_col="k" if bloom else None, change_feed=feed,
    )
    assert len(t.files()) == 8
    src = spark.createDataFrame([(5, 555), (100000, 1)], "k long, v long")
    dels = spark.createDataFrame([(7,)], "k long")
    ops = {
        "cow merge": lambda: t.merge(src, "k", deletes=dels),
        "dv delete": lambda: t.delete("k", values=[11, 12]),
        "cow delete": lambda: t.delete("k", values=[21], mode="cow"),
        "mor merge": lambda: t.merge(
            src, "k", deletes=dels, strategy="mor"
        ),
        "insert-only merge": lambda: t.merge(
            spark.createDataFrame([(200000, 2)], "k long, v long"), "k"
        ),
        "read_point": lambda: t.read_point("k", [5, 3000, 9]).collect(),
        "read_point over cap": lambda: read_point_over_cap(),
        "read_ranges": lambda: t.read_ranges({"k": (10, 400)}).collect(),
    }

    def read_point_over_cap():
        with monkeypatch.context() as m:
            m.setattr(ct_mod, "_BLOOM_PRUNE_MAX_KEYS", 2)
            return t.read_point("k", [5, 3000, 9]).collect()

    col = _BUDGET_SETUPS.index((feed, bloom))
    got = {name: _jobs(spark, fn) for name, fn in ops.items()}
    over = {
        name: (n, _JOB_CEILINGS[name][col])
        for name, n in got.items()
        if n > _JOB_CEILINGS[name][col]
    }
    assert not over, f"jobs over ceiling (got, ceiling): {over}; all: {got}"
    live = {r["k"]: r["v"] for r in t.read().collect()}
    assert live[5] == 555 and live[100000] == 1 and live[200000] == 2
    assert not {7, 11, 12, 21} & set(live) and len(live) == 3998


def test_bulk_merge_probe_skips_aggregation(spark, tmp_path, monkeypatch):
    """A merge whose touch keys overflow the bounded probe takes the
    oversized path straight from one raw (un-aggregated) probe job --
    no discarded groupBy over the whole source -- and, since the
    probe's sample already meets every file's key range, skips the
    envelope agg that could prune nothing."""
    monkeypatch.setattr(ct_mod, "_BLOOM_PRUNE_MAX_KEYS", 16)
    for feed in (False, True):
        df = (
            spark.range(4000)
            .selectExpr("id AS k", "id * 10 AS v")
            .repartition(8)
        )
        t = CowTable.create(
            spark, str(tmp_path / f"bulk{int(feed)}"), df, change_feed=feed
        )
        src = spark.range(0, 4000, 20).selectExpr("id AS k", "id * 10 + 1 AS v")
        n = _jobs(spark, lambda: t.merge(src, "k"))
        assert n <= 7, f"feed={feed}: bulk merge ran {n} jobs"
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert len(got) == 4000
        assert all(got[k] == k * 10 + (1 if k % 20 == 0 else 0) for k in got)


def test_bulk_matched_path_pins_not_inlines(spark, tmp_path, monkeypatch):
    """Past _MATCHED_INLINE_MAX matched triples the detection probe
    overflows: the matched keys pin as ONE localCheckpoint (driver
    never materializes the set) and the fused write joins against the
    pinned frame -- same feed, same snapshot (VERDICT r18 next #7)."""
    monkeypatch.setattr(ct_mod, "_MATCHED_INLINE_MAX", 3)
    calls = []
    cls = type(spark.range(1))  # the concrete DataFrame class
    orig = cls.localCheckpoint

    def spy(self, *a, **k):
        calls.append(self.columns)
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    t = _mk(spark, tmp_path, "bulk")
    src = spark.createDataFrame(
        [(k, k * 1000) for k in range(10)], "k long, v long"
    )
    t.merge(src, "k")
    # the matched triples (cap overflowed at 3 < 10 matches) pinned
    assert ["_file", "_k", "_s"] in calls, calls
    got = {r["k"]: r["v"] for r in t.read().collect()}
    for k in range(10):
        assert got[k] == k * 1000
    feed = _feed(t, 1, 1)
    assert (3, 30, "update_preimage") in feed
    assert (3, 3000, "update_postimage") in feed
    assert len([x for x in feed if x[2] == "insert"]) == 0


def test_fused_loser_cleanup(spark, tmp_path, monkeypatch):
    """A merge that loses the commit race removes its fused output --
    data dir, change dir, staging -- so the raw change-feed glob
    never sees a loser's rows once cleanup ran."""
    t = _mk(spark, tmp_path, "loser")
    # steal version 1 mid-merge: the racing winner's commit lands
    # right after the loser's fused write (stats harvest) finishes
    doc0 = t._commit_doc(0)
    fake = {**doc0, "version": 1, "op": "merge", "parent": 0}
    orig_h = CowTable._harvest_file_stats
    state = {"done": False}

    def steal(self, files):
        if not state["done"]:
            state["done"] = True
            with open(
                os.path.join(t.path, "_log", "00000001.json"), "w"
            ) as f:
                json.dump(fake, f)
        return orig_h(self, files)

    monkeypatch.setattr(CowTable, "_harvest_file_stats", steal)
    chg_root = os.path.join(t.path, "changes")
    with pytest.raises(ct_mod.ConcurrentWriteError):
        _merge_once(spark, t)
    # loser's change dir removed (or empty), no stage leftovers
    leftover = [
        d for d in (os.listdir(chg_root) if os.path.isdir(chg_root) else [])
        if os.listdir(os.path.join(chg_root, d))
    ]
    assert leftover == []
    stage = os.path.join(t.path, "_stage")
    assert not os.path.isdir(stage) or os.listdir(stage) == []
    # the stolen version's files are exactly v0's -- no loser data refs
    assert t.files(1) == doc0["files"]


def test_change_write_coalesces_without_aqe(spark, tmp_path):
    """ADVICE r18 #4: with adaptive execution off, a change write
    must not scatter the delta over shuffle-partition near-empty
    files; a dv delete's change files come from its pinned pre-image,
    at most one per partition holding matched rows."""
    t = _mk(spark, tmp_path, "noaqe", n=60, parts=3)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ddoc = t.delete("k", values=[1, 2, 3, 4, 5])
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert ddoc.get("change_files")
    assert len(ddoc["change_files"]) <= 8
    assert sorted(x[2] for x in _feed(t, 1, 1)) == ["delete"] * 5
