"""The CowTable file-skipping planner (``CowTable._candidate_files``):
reads, keyed mutations and store probes share one range test and one
bloom test.  Pinned here on a range-clustered and a hash layout, each
with the bloom index on and off, with the driver-probe cap lowered so
both the bounded (driver) and the over-cap (executor) paths run:

* no false negatives -- every file holding a probe key is kept by
  ``read_point``, ``read_ranges``, ``merge`` and ``delete``;
* ``read_point`` returns exactly ``read().filter(...)``;
* a mutation range-tests each key, not the batch's envelope;
* the process-wide decoded-bloom cache stays consistent under
  concurrent probes.
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading

import pytest
from pyspark.sql import functions as F

from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import (
    cow_table as ct,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (
    CowTable,
)

_N = 2000
_LAYOUTS = [(lay, bloom) for lay in ("range", "hash") for bloom in (True, False)]
_IDS = [f"{lay}-bloom{int(bloom)}" for lay, bloom in _LAYOUTS]
SMALL = [3, 1500, 777]  # within the lowered cap
BIG = [5, 250, 251, 999, 1000, 1998, 42]  # past it
ABSENT = [5000, -7]


def _table(spark, tmp_path, layout, bloom, name="t"):
    df = spark.range(_N).selectExpr("id AS k", "id * 3 AS v")
    df = (
        df.repartitionByRange(8, "k") if layout == "range"
        else df.repartition(8)
    )
    t = CowTable.create(
        spark, str(tmp_path / name), df, bloom_col="k" if bloom else None
    )
    assert len(t.files()) == 8
    return t


def _where(t) -> dict:
    """key -> basename of the live file holding it."""
    doc = t._commit_doc(t.version())
    df = t._read_files(
        t.files(), t._snapshot_schema(t.version()), t._dv_map(doc),
        file_col="_file",
    )
    return {r["k"]: r["_file"] for r in df.select("k", "_file").collect()}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def kept_log(monkeypatch):
    """Every planner call's kept basenames, newest last; the driver-probe
    cap lowered to 4 keys."""
    monkeypatch.setattr(ct, "_BLOOM_PRUNE_MAX_KEYS", 4)
    log: list = []
    orig = CowTable._candidate_files

    def spy(self, *a, **k):
        files, ev = orig(self, *a, **k)
        log.append({os.path.basename(f) for f in files})
        return files, ev

    monkeypatch.setattr(CowTable, "_candidate_files", spy)
    return log


@pytest.mark.parametrize("layout,bloom", _LAYOUTS, ids=_IDS)
def test_reads_keep_every_file_holding_a_key(
    spark, tmp_path, kept_log, layout, bloom
):
    t = _table(spark, tmp_path, layout, bloom)
    where = _where(t)
    for keys in (SMALL, BIG):
        probe = keys + ABSENT
        got = _rows(t.read_point("k", probe))
        assert got == _rows(t.read().filter(F.col("k").isin(probe)))
        assert {where[k] for k in keys} <= kept_log[-1]
        assert t.last_scan["files_scanned"] == len(kept_log[-1])
    for lo, hi in ((10, 30), (1990, None), (None, 4), (700, 705)):
        got = _rows(t.read_ranges({"k": (lo, hi)}))
        want = {
            k for k in where
            if (lo is None or k >= lo) and (hi is None or k <= hi)
        }
        assert sorted(r[0] for r in got) == sorted(want)
        assert {where[k] for k in want} <= kept_log[-1]


@pytest.mark.parametrize("layout,bloom", _LAYOUTS, ids=_IDS)
def test_mutations_keep_every_file_holding_a_key(
    spark, tmp_path, kept_log, layout, bloom
):
    t = _table(spark, tmp_path, layout, bloom)
    expect = {k: k * 3 for k in range(_N)}
    for keys, dels in ((SMALL, [11]), (BIG, [12, 13, 1777])):
        where = _where(t)
        src = spark.createDataFrame(
            [(k, -k) for k in keys + ABSENT], "k long, v long"
        )
        dframe = spark.createDataFrame([(k,) for k in dels], "k long")
        t.merge(src, "k", deletes=dframe)
        assert {where[k] for k in keys + dels} <= kept_log[-1]
        expect.update({k: -k for k in keys + ABSENT})
        for k in dels:
            expect.pop(k)
    for victims, mode in (([20, 1600], "dv"), (BIG[:2] + [30, 31, 32], "cow")):
        where = _where(t)
        t.delete("k", values=victims, mode=mode)
        assert {where[k] for k in victims} <= kept_log[-1]
        for k in victims:
            expect.pop(k)
    assert dict(_rows(t.read())) == expect


def test_merge_probes_each_key_not_the_envelope(spark, tmp_path):
    """Two keys in the first and the last file of a range-clustered
    table: the envelope [first, last] meets every file, the per-key
    test only the two that hold them."""
    t = _table(spark, tmp_path, "range", False)
    src = spark.createDataFrame([(0, -1), (_N - 1, -2)], "k long, v long")
    doc = t.merge(src, "k")
    assert doc["files_probed"] == 2
    assert doc["files_rewritten"] == 2
    got = dict(_rows(t.read()))
    assert got[0] == -1 and got[_N - 1] == -2 and len(got) == _N


def test_unrefutable_keys_never_narrow(spark, tmp_path):
    """NaN, mixed-type and unencodable probe values cannot be
    range-tested: they keep every file, and an unhashable value turns
    the bloom step off."""
    from decimal import Decimal

    df = (
        spark.range(400)
        .selectExpr("CAST(id AS DOUBLE) AS x", "id AS v")
        .union(spark.createDataFrame([(float("nan"), -1)], "x double, v long"))
        .repartitionByRange(4, "x")
    )
    plain = CowTable.create(spark, str(tmp_path / "plain"), df)
    bl = CowTable.create(spark, str(tmp_path / "bl"), df, bloom_col="x")
    doc = plain._commit_doc(0)
    assert len(plain._candidate_files(doc, "x", keys=[5.0])[0]) == 1
    for keys in ([float("nan")], [5.0, "5"], [5.0, Decimal(7)]):
        files, _ = plain._candidate_files(doc, "x", keys=keys)
        assert len(files) == len(plain.files()), keys
    for t in (plain, bl):
        assert _rows(t.read_point("x", float("nan")).select("v")) == [(-1,)]
    bdoc = bl._commit_doc(0)
    assert bl._candidate_files(bdoc, "x", keys=[5.0])[1]["bloom_probe"] == (
        "driver"
    )
    files, ev = bl._candidate_files(bdoc, "x", keys=[5.0, Decimal(7)])
    assert ev["bloom_probe"] is None and ev["files_skipped_bloom"] == 0
    assert len(files) == len(bl.files())


def test_bloom_buf_cache_is_thread_safe(tmp_path, monkeypatch):
    """8 threads decode the same 64 sidecars through their own index
    views, racing misses, puts and evictions: the byte total always
    equals the bytes the cache holds, within its bound."""
    monkeypatch.setattr(ct, "_BLOOM_BUF_CACHE", {})
    monkeypatch.setattr(ct, "_BLOOM_BUF_CACHE_BYTES", [0])
    monkeypatch.setattr(ct, "_BLOOM_BUF_CACHE_MAX_BYTES", 48 * 1024)
    log_dir = str(tmp_path / "_log")
    os.makedirs(log_dir)
    names = {}
    for i in range(64):
        name = f"00000000-{i:08x}.bf.json"
        with open(os.path.join(log_dir, name), "w") as f:
            json.dump({"h": f"{i + 1:x}", "m": 8192, "k": 5, "col": "k"}, f)
        names[f"part-{i}.parquet"] = name
    start = threading.Barrier(8)
    bad: list = []

    def reader(seed):
        order = list(names) * 4
        random.Random(seed).shuffle(order)
        start.wait()
        for _ in range(4):
            idx = ct._BloomIndex(log_dir, "k", names)
            for b in order:
                if idx.entry(b) is None:
                    bad.append(b)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=reader, args=(i,)) for i in range(8)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert bad == []
    held = sum(len(v[0]) for v in ct._BLOOM_BUF_CACHE.values())
    assert ct._BLOOM_BUF_CACHE_BYTES[0] == held
    assert held <= ct._BLOOM_BUF_CACHE_MAX_BYTES
