"""The CowTable commit-doc format (sources/cow_table.FORMAT_VERSION):
every writer goes through ``CowTable._commit``, so every commit doc
carries ``format_version``, ``txn``, ``schema`` and a ``file_stats``
entry per file; a doc in any other format raises
``UnsupportedTableFormatError`` naming the table and the version.  The
process-wide doc memo stays correct under concurrent readers."""

from __future__ import annotations

import json
import os
import random
import threading

import pytest

from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.lsh_store import (
    LshBucketStore,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.plans.queries_dedup import (
    _bands_of,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources import (
    cow_table as ct,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (
    FORMAT_VERSION,
    CowTable,
    UnsupportedTableFormatError,
    _commit_path,
)

META = {"app_id": "writer", "batch_id": 3}


def _table(spark, tmp_path, feed=False):
    df = spark.range(20).selectExpr("id AS k", "id * 10 AS v").repartition(2)
    return CowTable.create(spark, str(tmp_path / "t"), df, change_feed=feed)


def _src(spark):
    return spark.createDataFrame([(5, -5), (100, -100)], "k long, v long")


def _create(spark, tmp_path):
    return _table(spark, tmp_path), {}


def _cow_merge(feed):
    def op(spark, tmp_path):
        t = _table(spark, tmp_path, feed=feed)
        t.merge(_src(spark), "k", meta=META)
        return t, {"writer": 3}

    return op


def _mor_merge(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark), "k", strategy="mor", meta=META)
    return t, {"writer": 3}


def _delete(mode):
    def op(spark, tmp_path):
        t = _table(spark, tmp_path)
        t.delete("k", [3, 4], mode=mode, meta=META)
        return t, {"writer": 3}

    return op


def _compact(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark), "k", meta=META)
    t.compact(target_rows=1000)
    assert t._commit_doc(t.version())["op"] == "compact"
    return t, {"writer": 3}  # carried from the merge below it


def _lsh_fold(spark, tmp_path):
    store = LshBucketStore(spark, str(tmp_path / "lsh"))
    for i in range(2):
        docs = spark.createDataFrame(
            [(i, "one two three four five six"), (10 + i, "red green blue")],
            "doc_id bigint, text string",
        )
        store.ingest(_bands_of(docs), i)
    store.fold()
    assert store.table._commit_doc(store.table.version())["op"] == "fold"
    return store.table, {}


@pytest.mark.parametrize(
    "op",
    [
        _create, _cow_merge(True), _cow_merge(False), _mor_merge,
        _delete("cow"), _delete("dv"), _compact, _lsh_fold,
    ],
    ids=[
        "create", "cow_merge_feed", "cow_merge", "mor_merge",
        "cow_delete", "dv_delete", "compact", "lsh_fold",
    ],
)
def test_every_writer_emits_the_current_format(spark, tmp_path, op):
    t, want_txn = op(spark, tmp_path)
    with open(_commit_path(t.path, t.version())) as f:
        doc = json.load(f)  # the bytes on disk, not the memo
    assert doc["format_version"] == FORMAT_VERSION == 1
    assert doc["txn"] == want_txn
    assert t._snapshot_schema(t.version()).fieldNames() == t.read().columns
    assert set(doc["file_stats"]) == {os.path.basename(f) for f in doc["files"]}


def _forge(t, version, **changes):
    doc = {**t._commit_doc(0), "version": version, **changes}
    doc = {k: v for k, v in doc.items() if v is not None}
    with open(_commit_path(t.path, version), "w") as f:
        json.dump(doc, f)


@pytest.mark.parametrize("found", [None, 2])
def test_other_format_raises_named_error(spark, tmp_path, found):
    """A doc without ``format_version`` (an older log) and one from a
    newer writer both raise, naming the table path and the version."""
    t = _table(spark, tmp_path)
    _forge(t, 1, format_version=found)
    with pytest.raises(UnsupportedTableFormatError) as ei:
        t.read().collect()
    msg = str(ei.value)
    assert t.path in msg and "v1" in msg and repr(found) in msg
    assert (ei.value.version, ei.value.found) == (1, found)
    assert t.read(0).count() == 20  # the valid commit still reads


def test_doc_cache_is_thread_safe(spark, tmp_path):
    """8 threads read more versions than the memo holds, so every
    lookup races evictions and inserts; every returned doc must equal
    the doc on disk and the memo must stay within its bound."""
    t = _table(spark, tmp_path)
    doc0 = t._commit_doc(0)
    n = 3 * ct._DOC_CACHE_MAX
    for v in range(1, n + 1):
        t._commit(
            v, doc0["files"], "merge",
            {
                "parent": v - 1, "schema": doc0["schema"],
                "file_stats": doc0["file_stats"],
                "app_meta": {"app_id": "a", "batch_id": v},
            },
        )
    on_disk = {}
    for v in range(n + 1):
        with open(_commit_path(t.path, v)) as f:
            on_disk[v] = json.load(f)
    ct._DOC_CACHE.clear()
    start = threading.Barrier(8)
    bad: list = []

    def reader(seed):
        order = list(range(n + 1)) * 20
        random.Random(seed).shuffle(order)
        start.wait()
        for v in order:
            if CowTable(spark, t.path)._commit_doc(v) != on_disk[v]:
                bad.append(v)

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert bad == []
    assert len(ct._DOC_CACHE) <= ct._DOC_CACHE_MAX
