"""Incremental materialized-view maintenance (m9 / i3).

The oracle gate proves one batch == full rebuild at the fixture; these
tests pin the algebraic properties the driver cannot see:

* batch-ORDER invariance: applying {inserts} then {deletes} equals
  applying {deletes} then {inserts} equals one combined batch equals a
  full rebuild (apply_ref_docs_delta is a commutative fold over
  disjoint batches);
* duplicate preservation: a relation referencing the same id twice
  keeps both copies through updates of OTHER srcs on the same ref;
* stats additivity for i3's merge (df/n_docs are sums).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import (
    apply_ref_docs_delta,
    build_ref_docs,
)

DOC_COLS = "_id string, doc_type string, node_refs array<string>, members array<struct<type:string,ref:string,role:string>>"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_COLS)


def _mem(*refs):
    return [("node", r, "role") for r in refs]


@pytest.fixture(scope="module")
def corpus(spark):
    """Base ways/relations plus two delta batches (disjoint ids)."""
    base = _docs(
        spark,
        [
            ("w1", "way", ["n1", "n2"], None),
            ("w2", "way", ["n2", "n3"], None),
            # duplicate member ref: both copies must survive unrelated
            # updates to n2's posting list
            ("r1", "relation", None, _mem("n2", "n2", "n4")),
            ("w9", "way", ["n9"], None),
        ],
    )
    ins_a = _docs(spark, [("w5", "way", ["n2", "n5"], None)])
    del_b = ["w2", "w9"]
    return base, ins_a, del_b


def _canon(df):
    return sorted(
        (r["_id"], tuple(r["refers"])) for r in df.collect()
    )


def test_batch_order_invariance_and_rebuild_equality(spark, corpus):
    base, ins_a, del_b_ids = corpus
    deleted = base.filter(F.col("_id").isin(del_b_ids))
    survivors = base.filter(~F.col("_id").isin(del_b_ids))
    empty = base.filter(F.lit(False))

    full = build_ref_docs(survivors.unionByName(ins_a))
    idx0 = build_ref_docs(base)

    # one combined batch
    combined = apply_ref_docs_delta(idx0, ins_a, deleted)
    # inserts first, then deletes
    i_then_d = apply_ref_docs_delta(
        apply_ref_docs_delta(idx0, ins_a, empty), empty, deleted
    )
    # deletes first, then inserts
    d_then_i = apply_ref_docs_delta(
        apply_ref_docs_delta(idx0, empty, deleted), ins_a, empty
    )

    want = _canon(full)
    assert _canon(combined) == want
    assert _canon(i_then_d) == want
    assert _canon(d_then_i) == want


def test_index_never_shuffled(spark, corpus):
    """The scale claim of the maintenance path: every join over the
    persisted index is a broadcast build-right (LeftSemi carve-out +
    LeftAnti pass-through + LeftOuter merge against the broadcast
    touched subset) -- no SortMergeJoin anywhere in the physical plan.
    Round-9 ADVICE verified Spark REJECTS broadcasting the preserved
    side of a right-outer join, which silently shuffled the index."""
    base, ins_a, del_b_ids = corpus
    deleted = base.filter(F.col("_id").isin(del_b_ids))
    out = apply_ref_docs_delta(build_ref_docs(base), ins_a, deleted)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_duplicate_member_refs_preserved(spark, corpus):
    base, ins_a, del_b_ids = corpus
    deleted = base.filter(F.col("_id").isin(del_b_ids))
    out = apply_ref_docs_delta(build_ref_docs(base), ins_a, deleted)
    n2 = {r["_id"]: r["refers"] for r in out.collect()}["n2"]
    # w2 deleted, w5 inserted; r1's DOUBLE reference to n2 survives
    assert n2 == ["r1", "r1", "w1", "w5"]


def test_emptied_posting_is_dropped(spark, corpus):
    base, _, _ = corpus
    deleted = base.filter(F.col("_id") == "w9")  # sole referrer of n9
    empty = base.filter(F.lit(False))
    out = apply_ref_docs_delta(build_ref_docs(base), empty, deleted)
    assert "n9" not in {r["_id"] for r in out.collect()}
    # and a full rebuild agrees
    assert _canon(out) == _canon(
        build_ref_docs(base.filter(F.col("_id") != "w9"))
    )


def _canon_capped(df):
    return sorted(
        (r["_id"], tuple(r["refers"]), r["refer_count"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def capped_corpus(spark):
    """Hot ref n1 (4 referrers, cap=2 prefix [w1,w2]) whose prefix
    loses an entry -> refill path; n2 loses only an out-of-prefix
    entry -> pure arithmetic; n3 is batch-introduced."""
    base = _docs(
        spark,
        [
            ("w1", "way", ["n1"], None),
            ("w2", "way", ["n1"], None),
            ("w3", "way", ["n1"], None),
            ("w4", "way", ["n1"], None),
            ("w5", "way", ["n2"], None),
            ("w6", "way", ["n2"], None),
            ("w9", "way", ["n2"], None),
        ],
    )
    ins = _docs(spark, [("w0", "way", ["n1", "n3"], None)])
    del_ids = ["w1", "w9"]
    return base, ins, del_ids


def test_capped_delta_equals_capped_rebuild(spark, capped_corpus):
    base, ins, del_ids = capped_corpus
    deleted = base.filter(F.col("_id").isin(del_ids))
    after = base.filter(~F.col("_id").isin(del_ids)).unionByName(ins)
    out = apply_ref_docs_delta(
        build_ref_docs(base, cap=2), ins, deleted, cap=2, corpus_after=after
    )
    assert _canon_capped(out) == _canon_capped(build_ref_docs(after, cap=2))
    # n1's refill must pull the batch-inserted w0 into the prefix
    n1 = {r["_id"]: r for r in out.collect()}["n1"]
    assert list(n1["refers"]) == ["w0", "w2"] and n1["refer_count"] == 4
    # index never shuffled: broadcast semi/anti/outer only (the one
    # window exchange runs on the refill-pruned pair slice)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_capped_delta_batch_order_invariance(spark, capped_corpus):
    base, ins, del_ids = capped_corpus
    deleted = base.filter(F.col("_id").isin(del_ids))
    survivors = base.filter(~F.col("_id").isin(del_ids))
    after = survivors.unionByName(ins)
    empty = base.filter(F.lit(False))
    idx0 = build_ref_docs(base, cap=2)

    combined = apply_ref_docs_delta(
        idx0, ins, deleted, cap=2, corpus_after=after
    )
    mid_i = base.unionByName(ins)  # corpus after inserts-only batch
    i_then_d = apply_ref_docs_delta(
        apply_ref_docs_delta(idx0, ins, empty, cap=2, corpus_after=mid_i),
        empty, deleted, cap=2, corpus_after=after,
    )
    mid_d = survivors  # corpus after deletes-only batch
    d_then_i = apply_ref_docs_delta(
        apply_ref_docs_delta(idx0, empty, deleted, cap=2, corpus_after=mid_d),
        ins, empty, cap=2, corpus_after=after,
    )
    want = _canon_capped(build_ref_docs(after, cap=2))
    assert _canon_capped(combined) == want
    assert _canon_capped(i_then_d) == want
    assert _canon_capped(d_then_i) == want


@pytest.mark.parametrize("cap", [None, 1], ids=["uncapped", "capped"])
def test_cow_maintenance_equals_rebuild(spark, corpus, tmp_path, cap):
    """End-to-end mutable-storage maintenance: changes-only delta
    (upserts + emptied-posting delete keys) through CowTable.merge
    must leave the table equal to a full rebuild, with untouched
    files carried by reference (files_kept > 0).  Capped at 1, n3's
    stored prefix [w2] loses its only entry while wh0/wh1 still refer
    to it, so the exact refill from ``corpus_after`` binds."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import (
        ref_docs_delta_changes,
    )
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import (
        CowTable,
    )

    base, ins_a, del_b_ids = corpus
    # Pad with ways whose refs the batch never touches, spread over 8
    # files: the batch touches ≤4 refs (n2, n3, n5, n9), so at most 4
    # files can be rewritten and files_kept ≥ 4 DETERMINISTICALLY.
    # wh0/wh1 add referrers to n3 only, so no new ref appears.
    pad = _docs(
        spark,
        [(f"wp{i}", "way", [f"np{i}"], None) for i in range(32)]
        + [(f"wh{i}", "way", ["n3"], None) for i in range(2)],
    )
    base = base.unionByName(pad)
    deleted = base.filter(F.col("_id").isin(del_b_ids))
    survivors = base.filter(~F.col("_id").isin(del_b_ids))
    after = survivors.unionByName(ins_a)
    table = CowTable.create(
        spark, str(tmp_path / "ref_docs"),
        build_ref_docs(base, cap=cap).repartition(8, "_id"),
    )
    if cap is not None:
        with pytest.raises(ValueError, match="corpus_after"):
            ref_docs_delta_changes(table.read(), ins_a, deleted, cap=cap)
    ups, dels = ref_docs_delta_changes(
        table.read(), ins_a, deleted, cap=cap, corpus_after=after
    )
    stats = table.merge(ups, "_id", deletes=dels)
    canon = _canon if cap is None else _canon_capped
    assert canon(table.read()) == canon(build_ref_docs(after, cap=cap))
    # n9 empties out (sole referrer w9 deleted) -> a real delete key
    assert stats["delete_keys"] >= 1
    assert stats["files_kept"] >= 4
    assert stats["files_rewritten"] <= 4


def test_i3_stats_additivity(spark):
    """new_stats = old_stats + batch_stats must equal full-corpus stats
    exactly (they are integer counts in doubles)."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.plans.queries_text import (
        _TFIDF_TERMS,
        _term_freq,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = F.split(F.trim(F.lower(F.col("text"))), " ")
    tf = docs.select(
        "doc_id",
        *[_term_freq(toks, t).alias(f"tf_{i}") for i, t in enumerate(_TFIDF_TERMS)],
    )

    def stats(d):
        return d.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            *[
                F.sum((F.col(f"tf_{i}") > 0).cast("long")).cast("double").alias(f"df_{i}")
                for i in range(len(_TFIDF_TERMS))
            ],
        ).collect()[0]

    is_batch = (F.col("doc_id") % 10) == 0
    old = stats(tf.filter(~is_batch))
    delta = stats(tf.filter(is_batch))
    full = stats(tf)
    for f in full.asDict():
        assert old[f] + delta[f] == full[f], f
