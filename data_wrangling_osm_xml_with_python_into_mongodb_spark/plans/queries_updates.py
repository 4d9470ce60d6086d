"""Mutation-semantics queries: the reference's in-place updates
re-expressed as immutable declarative transforms (SURVEY.md §2.9).

M1 (mongo_audit.py:33-35): update_many + $set -> conditional column
rewrite; the query returns the post-update state summary, matching the
reference's Pre/Matched/Modified/Post report matrix.

M2 (mongo_audit.py:235-268): the client-side foreach-update of one
array element per document -> a single ``transform`` over the array:
no per-row round trips, fully parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _t, register

# Scan/prune evidence of the last run of each CowTable skipping query
# (m17-m22), keyed by query/probe -- files_total/scanned/
# skipped(+bloom), merge prune stats, deletion-vector zero-rewrite
# stats, and change-feed file counts.  bench.py snapshots this
# after its ext pass so the SKIPPING VALUE (not just the op wall,
# which is staging-dominated) rides with every bench run, the way v8
# logs its candidate fraction (VERDICT r14 #4).  Best-effort — never
# part of query semantics.
LAST_COW_EVIDENCE: dict = {}


@register(
    "m1_update_set_priority",
    "update_many + $set as a conditional rewrite, reporting the "
    "matched/modified/post-state matrix (reference M1, mongo_audit.py:22-43).",
    """
    SELECT new_priority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_modified
    FROM (
      SELECT CASE WHEN o_totalprice > 300000.0 THEN '1-URGENT'
                  ELSE o_orderpriority END AS new_priority,
             (o_totalprice > 300000.0 AND o_orderpriority <> '1-URGENT') AS changed
      FROM orders
    )
    GROUP BY new_priority
    """,
    tags=("update",),
)
def q_update_set_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    matched = F.col("o_totalprice") > 300000.0
    updated = orders.select(
        F.when(matched, F.lit("1-URGENT")).otherwise(F.col("o_orderpriority")).alias(
            "new_priority"
        ),
        (matched & (F.col("o_orderpriority") != "1-URGENT")).alias("changed"),
    )
    return updated.groupBy("new_priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("changed").cast("int")).cast("long").alias("n_modified"),
    )


@register(
    "m2_positional_array_update",
    "Positional array-element repair as a declarative transform: clamp "
    "negative vector components (reference M2 members.$ update, "
    "mongo_audit.py:235-268).",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x < 0)) AS INTEGER)
             AS n_repaired,
           round(list_sum(list_transform(embedding::DOUBLE[],
                                         x -> CASE WHEN x < 0 THEN 0.0 ELSE x END)), 6)
             AS repaired_sum
    FROM embeddings
    WHERE vec_id < 100
    """,
    tags=("update", "nested"),
)
def q_positional_array_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    vec = F.col("embedding").cast("array<double>")
    repaired = F.transform(vec, lambda x: F.when(x < 0, F.lit(0.0)).otherwise(x))
    return emb.select(
        "vec_id",
        F.size(F.filter(vec, lambda x: x < 0)).alias("n_repaired"),
        F.round(
            F.aggregate(repaired, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("repaired_sum"),
    )


@register(
    "m5_merge_upsert",
    "MERGE-style upsert as a pure transform (operators/audits.py "
    "merge_upsert): matched keys take the source row wholesale, "
    "unmatched source rows insert, remaining target rows persist -- "
    "the Delta/Iceberg MERGE shape over immutable inputs; summarized "
    "per priority after the merge.",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderkey < 800
    ),
    source AS (
      SELECT o_orderkey, '0-MERGED' AS o_orderpriority,
             round(o_totalprice + 1000.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 1200
    ),
    merged AS (
      SELECT * FROM source
      UNION ALL
      SELECT t.* FROM target t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM source)
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM merged
    GROUP BY o_orderpriority
    """,
    tags=("update", "merge"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.audits import merge_upsert

    orders = _t(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") < 800).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    source = orders.filter(
        (F.col("o_orderkey") >= 400) & (F.col("o_orderkey") < 1200)
    ).select(
        "o_orderkey",
        F.lit("0-MERGED").alias("o_orderpriority"),
        F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
    )
    return (
        merge_upsert(target, source, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "m7_scd2_history",
    "Slowly-changing-dimension (type 2) history build: the per-user "
    "event_type stream collapsed to state-change rows with "
    "[valid_from, valid_to) intervals and a current flag -- the "
    "warehouse primitive that turns an append-only event log into a "
    "point-in-time dimension.  Deterministic total order everywhere "
    "((ts, event_id) tiebreak) so both engines cut identical intervals.",
    """
    WITH ordered AS (
      SELECT user_id, event_type AS state, ts, event_id,
             lag(event_type) OVER w AS prev_state
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, state, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER
             (PARTITION BY user_id ORDER BY valid_from, event_id)
             AS valid_to,
           CAST(lead(valid_from) OVER
             (PARTITION BY user_id ORDER BY valid_from, event_id)
             IS NULL AS INTEGER) AS is_current
    FROM changes
    """,
    tags=("updates", "scd", "window"),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two windows over the SAME (user_id, ts, event_id) sort -- Spark
    plans one exchange + one sort and reuses them for both the lag
    (change detection) and the lead (interval close), so the whole
    history build costs a single shuffle.  100 TB shape: identical;
    per-user partitions, no global sort, no state blowup (output is
    <= input rows)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id",
            F.col("event_type").alias("state"),
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .filter(F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state")))
        .select("user_id", "state", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    valid_to = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
    )


@register(
    "m8_cdc_snapshot",
    "CDC changelog apply: the events stream read as a change log over "
    "a per-user profile table (error rows = DELETE, all other rows = "
    "UPSERT carrying value), replayed in (ts, event_id) order to the "
    "latest-state snapshot -- the lakehouse 'apply CDC to snapshot' "
    "operator that MERGE-based ingestion (m5) runs incrementally.  "
    "Users whose LAST change is a delete vanish from the snapshot; "
    "the summary groups survivors by their final event type.",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(value AS DECIMAL(18,2)) AS value,
             event_type = 'error' AS is_delete
      FROM events
    ),
    latest AS (
      SELECT user_id, event_type, value, is_delete,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT event_type AS final_type,
           count(*) AS n_users,
           CAST(sum(value) AS DOUBLE) AS total_value
    FROM latest
    WHERE rn = 1 AND NOT is_delete
    GROUP BY event_type
    """,
    tags=("update", "cdc", "window"),
)
def q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins replay as ONE window over (user_id) ordered by
    (ts, event_id) -- no iterative per-change application, no driver
    loop: the shuffle partitions by user so every user's log replays
    independently and in parallel, which is exactly how a 1000-executor
    run applies a 100 TB changelog (Debezium/Delta CDF shape).  The
    tombstone filter happens AFTER picking the last row, preserving
    delete-then-reinsert semantics; the downstream agg reuses the same
    user partitioning.  Decimal sum for cross-engine exactness (p11
    rule)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("value"),
            (F.col("event_type") == "error").alias("is_delete"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & ~F.col("is_delete"))
    )
    return latest.groupBy(F.col("event_type").alias("final_type")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("value").cast("double").alias("total_value"),
    )


@register(
    "m12_cow_compaction",
    "OPTIMIZE-style small-file compaction on the copy-on-write table "
    "(sources/cow_table.CowTable.compact): a fragmented table (24-file "
    "create + a merge commit) is bin-packed into ceil(rows/target) "
    "files with untouched-content guarantee -- the oracle reads the "
    "post-compaction snapshot row-by-row (md5 of every text) against "
    "the merged input, proving the rewrite is pure.  At scale this is "
    "the maintenance op that keeps incremental MERGE commits (m9/m11) "
    "from drowning a table in small files; time travel to the "
    "fragmented version stays intact (pinned in pytest).",
    """
    WITH merged AS (
      SELECT doc_id, text || ' [v2]' AS text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 <> 0
    )
    SELECT doc_id, lang, n_chars, md5(text) AS text_md5 FROM merged
    """,
    tags=("update", "merge", "sink"),
)
def q_cow_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The create/merge staging is test scaffolding; the operator under
    test is CowTable.compact (pure-rewrite bin-packing commit)."""
    import tempfile

    from ..sources.cow_table import CowTable

    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="m12_cow_")
    table = CowTable.create(spark, f"{work}/docs", docs.repartition(24))
    src = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [v2]"))
    )
    table.merge(src, "doc_id")
    table.compact(target_rows=10_000_000)
    return table.read().select(
        "doc_id", "lang", "n_chars", F.md5(F.col("text")).alias("text_md5")
    )


@register(
    "m13_cow_data_skipping",
    "Data skipping from the table-format commit log: the table is laid "
    "out range-partitioned on order date, every commit records per-file "
    "min/max from the parquet footers (metadata-only), and "
    "CowTable.read_range opens ONLY the files whose range intersects "
    "the one-year predicate -- Delta/Iceberg-style file pruning above "
    "parquet's own row-group pruning.  Skipping is an optimization, "
    "never semantics: survivors are exactly re-filtered, and files "
    "without usable stats are always scanned (pinned in pytest, along "
    "with files_skipped > 0 evidence).",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
    GROUP BY month
    """,
    tags=("update", "scan", "sink"),
)
def q_cow_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import tempfile

    from ..sources.cow_table import CowTable

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_odate", F.to_date("o_orderdate")
    )
    work = tempfile.mkdtemp(prefix="m13_cow_")
    table = CowTable.create(
        spark, f"{work}/orders", orders.repartitionByRange(12, "o_odate")
    )
    pruned = table.read_range(
        "o_odate", datetime.date(1997, 1, 1), datetime.date(1997, 12, 31)
    )
    return pruned.groupBy(
        F.date_format("o_odate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "m14_cow_vacuum",
    "Retention cleanup on the copy-on-write table "
    "(sources/cow_table.CowTable.vacuum, the VACUUM analogue): a "
    "delete+update MERGE makes the create-version's rewritten files "
    "exclusive to the expired snapshot, vacuum physically deletes "
    "them (retain_last=1; the callable asserts files_deleted > 0), "
    "and the oracle re-reads the surviving snapshot row-by-row -- "
    "proving cleanup never touches live data.  Delete-before-upsert "
    "precedence (a key in both frames keeps the source row) is part "
    "of the oracle.  At scale this is what bounds a mutable table's "
    "physical footprint: expired versions keep auditable commit "
    "metadata but release their storage.",
    """
    WITH merged AS (
      SELECT doc_id, text || ' [upd]' AS text, lang, n_chars
      FROM documents WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id, text, lang, n_chars
      FROM documents WHERE doc_id % 10 <> 1 AND doc_id % 7 <> 3
    )
    SELECT doc_id, lang, n_chars, md5(text) AS text_md5 FROM merged
    """,
    tags=("update", "merge", "sink"),
)
def q_cow_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The create/merge staging is test scaffolding; the operator
    under test is CowTable.vacuum (physical cleanup of files only
    expired snapshots reference)."""
    import tempfile

    from ..sources.cow_table import CowTable

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    work = tempfile.mkdtemp(prefix="m14_cow_")
    table = CowTable.create(spark, f"{work}/docs", docs.repartition(8))
    upd = docs.filter(F.col("doc_id") % 10 == 1).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [upd]"))
    )
    dels = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    table.merge(upd, "doc_id", deletes=dels)
    summary = table.vacuum(retain_last=1, orphan_grace_s=0.0)
    assert summary["files_deleted"] > 0, "vacuum found nothing to delete"
    return table.read().select(
        "doc_id", "lang", "n_chars", F.md5(F.col("text")).alias("text_md5")
    )


@register(
    "m17_cow_zorder_skipping",
    "Multi-column data skipping from a Z-ORDERED layout "
    "(sources/cow_table.CowTable.compact cluster_by=[date, custkey], "
    "the OPTIMIZE ... ZORDER BY analogue): rows shuffle once on a "
    "Morton interleave of the quantized columns, so EVERY clustered "
    "column's per-file min/max tightens and read_ranges prunes files "
    "on a 2-dim box -- and on the trailing dimension alone, which "
    "single-column range clustering leaves full-width per file (both "
    "prunes asserted in-query with files_skipped > 0).  Skipping is "
    "an optimization, never semantics: survivors are exactly "
    "re-filtered, and the oracle recomputes the box aggregate from "
    "the raw table.  At 100 TB this is how a second predicate "
    "dimension avoids a full scan without a second copy of the data.",
    """
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      AND o_custkey BETWEEN 0 AND 299
    GROUP BY month
    """,
    tags=("update", "scan", "sink"),
)
def q_cow_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The create/compact staging is test scaffolding; the operators
    under test are _zvalue_expr + compact(cluster_by=list) +
    read_ranges (sources/cow_table.py)."""
    import datetime
    import tempfile

    from ..sources.cow_table import CowTable

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_odate", F.to_date("o_orderdate")
    )
    work = tempfile.mkdtemp(prefix="m17_cow_")
    table = CowTable.create(
        spark, f"{work}/orders", orders.repartition(16)
    )
    total = sum(
        s["rows"]
        for s in table._commit_doc(0)["file_stats"].values()
    )
    table.compact(
        target_rows=max(1, total // 12), cluster_by=["o_odate", "o_custkey"]
    )
    # trailing-dim prune: the reason Z-order exists (a cust-only
    # predicate skips files even though the date column leads).  The
    # probe is the bottom ~10% of the KEY RANGE THE LOG RECORDS --
    # custkey cardinality scales with SF, a fixed bound would cover
    # every customer at small SFs and have nothing to prune.
    ck_max = max(
        s["cols"]["o_custkey"]["max"]
        for s in table._commit_doc(table.version())["file_stats"].values()
    )
    table.read_ranges({"o_custkey": (0, ck_max // 10)}).count()
    assert table.last_scan["files_skipped"] > 0, (
        "z-order layout failed to prune on the trailing dimension"
    )
    LAST_COW_EVIDENCE["m17_trailing_dim"] = dict(table.last_scan)
    pruned = table.read_ranges({
        "o_odate": (datetime.date(1996, 1, 1), datetime.date(1996, 12, 31)),
        "o_custkey": (0, 299),
    })
    assert table.last_scan["files_skipped"] > 0, (
        "z-order layout failed to prune the 2-dim box"
    )
    LAST_COW_EVIDENCE["m17_box"] = dict(table.last_scan)
    return pruned.groupBy(
        F.date_format("o_odate", "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "m18_cow_bloom_point_lookup",
    "Point lookups through the per-file Bloom key index "
    "(sources/cow_table.CowTable create(bloom_col)/read_point, the "
    "Delta bloom-filter-index analogue): the table is keyed by an "
    "md5 hex of the doc id, so every file's [min, max] spans ~the "
    "whole key space and range stats prune NOTHING -- any skipping "
    "is the bloom's, asserted in-query (files_skipped_bloom > 0, "
    "files_scanned < files_total).  No false negatives by "
    "construction: the oracle recomputes the same IN-list lookup "
    "from the raw table, so a key the index wrongly skipped would "
    "hash-mismatch.  At 100 TB this is a point lookup touching a "
    "handful of files instead of every file of the table.",
    """
    SELECT doc_id, lang, n_chars, md5(text) AS text_md5
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) IN (
      '8f14e45fceea167a5a36dedd4bea2543', 'a1d0c6e83f027327d8461063f4ac58a6',
      'ac627ab1ccbdb62ec96e702f07f6425b', '202cb962ac59075b964b07152d234b70',
      'd3d9446802a44259755d38e6d163e820', '310dcbbf4cce62f762a2aaa148d556bd',
      '550a141f12de6341fba65b0ad0433500', '3cf166c6b73f030b4f67eeaeba301103'
    )
    """,
    tags=("update", "scan", "sink"),
)
def q_cow_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging (md5-keyed copy of documents) is test scaffolding;
    the operators under test are the bloom sidecar maintenance in
    CowTable._commit and read_point's range+bloom pruning."""
    import hashlib
    import tempfile

    from ..sources.cow_table import CowTable

    docs = _t(spark, sf_dir, "documents").select(
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        "doc_id", "text", "lang", "n_chars",
    )
    work = tempfile.mkdtemp(prefix="m18_cow_")
    table = CowTable.create(
        spark, f"{work}/docs", docs.repartition(16), bloom_col="k"
    )
    ids = [7, 42, 99, 123, 10, 333, 444, 499]
    probes = [hashlib.md5(str(i).encode()).hexdigest() for i in ids]
    out = table.read_point("k", probes)
    assert table.last_scan["files_skipped_bloom"] > 0, (
        "bloom index failed to refute any file"
    )
    assert (
        table.last_scan["files_scanned"] < table.last_scan["files_total"]
    ), "point lookup scanned every file"
    LAST_COW_EVIDENCE["m18_point_lookup"] = dict(table.last_scan)
    return out.select(
        "doc_id", "lang", "n_chars", F.md5(F.col("text")).alias("text_md5")
    )


@register(
    "m19_cow_zorder_sampled_skew",
    "Z-order with SAMPLED (equi-depth) quantization boundaries under "
    "a long-tail skewed clustering column "
    "(sources/cow_table.compact zorder_boundaries='sampled', Delta's "
    "sampled-range-boundary answer to the same problem): a handful "
    "of extreme outlier values stretch linear min/max quantization "
    "until every ordinary row lands in bucket 0 and the column stops "
    "contributing to the Morton code -- percentile_approx band edges "
    "follow the data mass instead, so per-file ranges stay tight and "
    "a selective probe still skips files (asserted in-query on the "
    "bottom decile of the REAL key mass, which the outliers would "
    "otherwise hide).  Skipping is never semantics: survivors are "
    "exactly re-filtered and the oracle recomputes the band "
    "aggregate from the raw table.  At 100 TB a single hot date or "
    "runaway id would otherwise quietly degrade m17-style skipping "
    "to a full scan.",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE (CASE WHEN o_orderkey <= 32 THEN 1000000000000000
                ELSE o_custkey END) BETWEEN 0 AND 299
    GROUP BY o_orderpriority
    """,
    tags=("update", "scan", "sink"),
)
def q_cow_zorder_sampled_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The create/compact staging is test scaffolding; the operators
    under test are _zvalue_expr(boundaries='sampled') +
    compact(zorder_boundaries=) + read_ranges (sources/cow_table.py).
    The skewed column is DERIVED deterministically (no RNG): a few
    orderkeys pushed to 1e15 play the runaway-id outlier."""
    import tempfile

    from ..sources.cow_table import CowTable

    orders = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") <= 32, F.lit(10**15))
        .otherwise(F.col("o_custkey")).alias("a"),
        "o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice",
        F.to_date("o_orderdate").alias("o_odate"),
    )
    work = tempfile.mkdtemp(prefix="m19_cow_")
    table = CowTable.create(spark, f"{work}/orders", orders.repartition(16))
    total = sum(
        s["rows"] for s in table._commit_doc(0)["file_stats"].values()
    )
    table.compact(
        target_rows=max(1, total // 12),
        cluster_by=["a", "o_odate"],
        zorder_boundaries="sampled",
    )
    # skipping evidence on the bottom decile of the REAL mass (the
    # outliers make the RECORDED a-range ~1e15 wide, so any fixed
    # fraction of it would cover the whole mass -- probe the custkey
    # decile instead, computed from the data like m17 does).
    ck_max = orders.agg(F.max("o_custkey").alias("m")).collect()[0]["m"]
    table.read_ranges({"a": (0, max(1, ck_max // 10))}).count()
    assert table.last_scan["files_skipped"] > 0, (
        "sampled z-order boundaries failed to prune under skew"
    )
    LAST_COW_EVIDENCE["m19_skew_decile"] = dict(table.last_scan)
    pruned = table.read_ranges({"a": (0, 299)})
    return pruned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "m20_cow_bloom_merge_prune",
    "MERGE candidate pruning through the per-file Bloom index for a "
    "batch PAST the driver-collect cap (sources/cow_table.merge "
    "bloom_probe='distributed' -- the executor-side probe of VERDICT "
    "r14 #1): the table is keyed by md5(o_orderkey) but CLUSTERED by "
    "order date, so every file's key [min, max] spans the whole hex "
    "space and the range envelope prunes NOTHING, while the delta "
    "(all orders before a cutoff date -- the classic correlated "
    "backfill batch) physically lives in a couple of files; the "
    "batch's keys never leave the cluster -- the per-file filters "
    "broadcast to the key batch and only the O(files) hit set "
    "returns to the driver.  Filters are sized for batch probing "
    "(32 bits/key, k=22: per-probe fpp ~2e-7, so a 15k-key batch "
    "false-hits ~0 files; the 1% point-lookup default would false-"
    "hit every file).  Asserted in-query: the distributed path ran "
    "and files_probed stayed a small fraction of the table.  The "
    "batch exceeds the 10k driver cap naturally at sf0.1; the flag "
    "pins the same path at smaller SFs.  The oracle recomputes the "
    "post-merge state in pure SQL.  At 100 TB this is the "
    "difference between a 100k-key delta merge rescanning every "
    "file and touching the handful it changes.",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-09-01'
                 THEN o_totalprice + 100000.0 ELSE o_totalprice END),
                 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("update", "scan", "sink"),
)
def q_cow_bloom_merge_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging (md5-keyed orders clustered by date) is test
    scaffolding; the operators under test are
    CowTable._bloom_prune_distributed + merge(bloom_probe=) + the
    per-file-sized filters (sources/cow_table.py)."""
    import tempfile

    from ..sources.cow_table import CowTable

    orders = _t(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("k"),
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.to_date("o_orderdate").alias("o_odate"),
    )
    work = tempfile.mkdtemp(prefix="m20_cow_")
    table = CowTable.create(
        spark,
        f"{work}/orders",
        orders.repartitionByRange(24, "o_odate"),
        bloom_col="k",
        bloom_bits_per_key=32,
        bloom_k=22,
    )
    batch = orders.filter(
        F.col("o_odate") < F.lit("1995-09-01").cast("date")
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(100000.0))
    doc = table.merge(batch, "k", bloom_probe="distributed")
    assert doc["bloom_probe"] == "distributed", "executor probe not taken"
    assert doc["files_probed"] <= 6, (
        f"bloom merge prune ineffective: probed {doc['files_probed']} of 24"
    )
    LAST_COW_EVIDENCE["m20_merge_prune"] = {
        k: doc[k]
        for k in (
            "bloom_probe", "files_probed", "files_kept",
            "files_rewritten", "files_written",
        )
    }
    return table.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "m21_cow_deletion_vectors",
    "Merge-on-read mutations through deletion vectors "
    "(sources/cow_table.delete mode='dv' + merge strategy='mor' -- "
    "the Delta/Iceberg deletion-vector mechanism): the table is keyed "
    "by md5(o_orderkey), so a scattered delete (every 97th order) and "
    "a scattered upsert (every 101st, price bumped) each touch EVERY "
    "file -- the exact regime where copy-on-write rewrites the whole "
    "table to change a fraction of a percent of its rows.  Neither op "
    "rewrites a data file (asserted in-query: the delete writes ZERO "
    "files and leaves the file list byte-identical; the mor upsert "
    "rewrites zero and only appends the batch): matched rows are "
    "marked dead by parquet row position in a commit sidecar, readers "
    "filter them via _metadata.row_index (an anti-join against a "
    "dead-positions frame sized by the DELTA, broadcast, paid only by "
    "files that have vectors), and compact() materializes the vectors "
    "later.  A key hit by both ops ends as the upserted row (deletes "
    "apply before merge, pinned cross-checked by the oracle's "
    "re-derivation).  A third, POINT delete (the 5 smallest surviving "
    "orders -- the GDPR delete-these-users regime) composes DVs with "
    "the per-file Bloom index: its candidate scan probes only the "
    "files the blooms cannot refute (files_probed < files_total, "
    "asserted in-query -- the r15 nit that scattered staging probes "
    "12/12 by construction).  At 100 TB this is the difference "
    "between a scattered delete rewriting terabytes and writing "
    "kilobytes of sidecar -- and between reading every file to find "
    "5 keys and reading the handful that can hold them.",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(CASE WHEN o_orderkey % 101 = 0
                          THEN o_totalprice + 50000.0
                          ELSE o_totalprice END), 2) AS total
    FROM orders
    WHERE (o_orderkey % 101 = 0 OR o_orderkey % 97 <> 0)
      AND o_orderkey NOT IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0
        ORDER BY o_orderkey LIMIT 5
      )
    GROUP BY o_orderpriority
    """,
    tags=("update", "scan", "sink"),
)
def q_cow_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging (md5-keyed orders) is test scaffolding; the
    operators under test are CowTable.delete(mode='dv'),
    merge(strategy='mor'), _read_files' positional dead-row filter,
    and _maintain_dv's sidecar lifecycle (sources/cow_table.py)."""
    import tempfile

    from ..sources.cow_table import CowTable

    orders = _t(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("k"),
        "o_orderkey", "o_orderpriority", "o_totalprice",
    )
    work = tempfile.mkdtemp(prefix="m21_cow_")
    table = CowTable.create(
        spark, f"{work}/orders", orders.repartition(12),
        bloom_col="k", bloom_bits_per_key=32, bloom_k=22,
    )
    files_before = list(table.files())

    dels = orders.filter(F.col("o_orderkey") % 97 == 0).select("k")
    ddoc = table.delete("k", deletes=dels)
    assert ddoc["files_written"] == 0 and ddoc["files_rewritten"] == 0, (
        "dv delete touched the data plane"
    )
    assert table.files() == files_before, "dv delete changed the file list"
    assert ddoc["rows_dv_deleted"] > 0, "dv delete matched nothing"

    src = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(50000.0)
    )
    mdoc = table.merge(src, "k", strategy="mor")
    assert mdoc["files_rewritten"] == 0, "mor merge rewrote a data file"

    # the bloom-pruned POINT delete: 5 specific survivors.  Their md5
    # keys land in at most 5 of the original 12 files; every other
    # file's 32-bit/key filter refutes the whole probe set.
    point = [
        r["k"]
        for r in orders.filter(
            (F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 101 != 0)
        )
        .orderBy("o_orderkey")
        .select("k")
        .limit(5)
        .collect()
    ]
    pdoc = table.delete("k", values=point)
    n_files = len(table.files())
    assert pdoc["rows_dv_deleted"] == 5, pdoc["rows_dv_deleted"]
    assert pdoc["files_probed"] < len(files_before), (
        f"bloom failed to prune the point DV delete: probed "
        f"{pdoc['files_probed']} of {n_files}"
    )

    LAST_COW_EVIDENCE["m21_deletion_vectors"] = {
        "files_total": len(files_before),
        "delete_files_probed": ddoc["files_probed"],
        "rows_dv_deleted": ddoc["rows_dv_deleted"],
        "delete_dv_files_updated": ddoc["dv_files_updated"],
        "mor_rows_dv_deleted": mdoc["rows_dv_deleted"],
        "mor_files_written": mdoc["files_written"],
        "point_delete_files_probed": pdoc["files_probed"],
        "point_delete_files_total": n_files,
        "point_delete_bloom": pdoc.get("bloom_probe"),
    }
    return table.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "m22_cow_change_feed",
    "CHANGE DATA FEED over merge-on-read mutations "
    "(sources/cow_table.read_changes -- Delta's table_changes "
    "surface): a change_feed=True table records each mutation "
    "commit's row-level change set (insert / update_preimage / "
    "update_postimage / delete) in commit-referenced change files at "
    "write time; an incremental consumer (downstream index, replica, "
    "audit) tails O(changes) per poll instead of diffing snapshots.  "
    "Staged: one CoW MERGE (every 101st order's price bumped = "
    "update pre+post pairs, every 97th deleted -- a key in both "
    "frames feeds as an update, the merge contract -- and synthetic "
    "orders inserted for every 103rd) followed by a deletion-vector "
    "DELETE (every 89th surviving order), whose pre-images must "
    "reflect the FIRST commit's updates -- the feed is "
    "state-dependent, not predicate replay.  The oracle re-derives "
    "every change row from orders arithmetic.  The result aggregates "
    "the feed per (commit, change type) with value sums, so a "
    "misclassified or stale-valued row breaks the hash.",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ),
    v1_pre AS (SELECT * FROM base WHERE o_orderkey % 101 = 0),
    v1_del AS (
      SELECT * FROM base
      WHERE o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0
    ),
    v1_ins AS (SELECT * FROM base WHERE o_orderkey % 103 = 0),
    v2_del AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0
                  THEN o_totalprice + 50000.0
                  ELSE o_totalprice END AS price
      FROM base
      WHERE o_orderkey % 89 = 0
        AND NOT (o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0)
    )
    SELECT * FROM (
      SELECT 1 AS commit_version, 'update_preimage' AS change_type,
             count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
      FROM v1_pre
      UNION ALL
      SELECT 1, 'update_postimage', count(*),
             round(sum(o_totalprice + 50000.0), 2)
      FROM v1_pre
      UNION ALL
      SELECT 1, 'delete', count(*), round(sum(o_totalprice), 2)
      FROM v1_del
      UNION ALL
      SELECT 1, 'insert', count(*), round(sum(o_totalprice), 2)
      FROM v1_ins
      UNION ALL
      SELECT 2, 'delete', count(*), round(sum(price), 2)
      FROM v2_del
    )
    """,
    tags=("update", "scan", "sink", "cdc"),
)
def q_cow_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging (md5-keyed orders) is test scaffolding; the
    operators under test are the mutation layer's change classifier
    and writer (CowTable._classify, CowTable._write_data_files) on a
    cow merge and a dv delete, and read_changes
    (sources/cow_table.py)."""
    import tempfile

    from ..sources.cow_table import CowTable

    orders = _t(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("k"),
        "o_orderkey", "o_orderpriority", "o_totalprice",
    )
    work = tempfile.mkdtemp(prefix="m22_cow_")
    table = CowTable.create(
        spark, f"{work}/orders", orders.repartition(12), change_feed=True
    )
    updates = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(50000.0)
    )
    inserts = orders.filter(F.col("o_orderkey") % 103 == 0).select(
        F.md5((F.col("o_orderkey") + 20000000).cast("string")).alias("k"),
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        "o_orderpriority", "o_totalprice",
    )
    dels = orders.filter(F.col("o_orderkey") % 97 == 0).select("k")
    mdoc = table.merge(updates.unionByName(inserts), "k", deletes=dels)
    assert mdoc.get("change_files"), "cow merge recorded no change files"

    dels2 = orders.filter(F.col("o_orderkey") % 89 == 0).select("k")
    ddoc = table.delete("k", deletes=dels2)
    assert ddoc.get("change_files"), "dv delete recorded no change files"
    assert ddoc["files_written"] == 0, "dv delete touched the data plane"

    LAST_COW_EVIDENCE["m22_change_feed"] = {
        "merge_change_files": len(mdoc["change_files"]),
        "delete_change_files": len(ddoc["change_files"]),
        "delete_rows_dv_deleted": ddoc["rows_dv_deleted"],
    }
    return (
        table.read_changes(1)
        .groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "m23_cow_change_feed_streamed",
    "The m22 change feed consumed as a STRUCTURED STREAMING source "
    "(streaming/change_feed.stream_changes -- Delta's 'CDF as a "
    "stream' analogue): the same two mutation commits land on the "
    "table, then a file-source stream over the commit-referenced "
    "change files drains them with trigger=availableNow into a "
    "parquet sink via foreachBatch, and the RESULT is aggregated "
    "from what the STREAM delivered -- so the oracle gate pins the "
    "streaming delivery path itself (exactly-once file delivery "
    "through Spark's source checkpoint), not just the batch reader.  "
    "Same oracle as m22: every streamed row re-derived from orders "
    "arithmetic; a dropped or duplicated micro-batch row breaks the "
    "count and sum hashes.",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ),
    v1_pre AS (SELECT * FROM base WHERE o_orderkey % 101 = 0),
    v1_del AS (
      SELECT * FROM base
      WHERE o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0
    ),
    v1_ins AS (SELECT * FROM base WHERE o_orderkey % 103 = 0),
    v2_del AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0
                  THEN o_totalprice + 50000.0
                  ELSE o_totalprice END AS price
      FROM base
      WHERE o_orderkey % 89 = 0
        AND NOT (o_orderkey % 97 = 0 AND o_orderkey % 101 <> 0)
    )
    SELECT * FROM (
      SELECT 1 AS commit_version, 'update_preimage' AS change_type,
             count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
      FROM v1_pre
      UNION ALL
      SELECT 1, 'update_postimage', count(*),
             round(sum(o_totalprice + 50000.0), 2)
      FROM v1_pre
      UNION ALL
      SELECT 1, 'delete', count(*), round(sum(o_totalprice), 2)
      FROM v1_del
      UNION ALL
      SELECT 1, 'insert', count(*), round(sum(o_totalprice), 2)
      FROM v1_ins
      UNION ALL
      SELECT 2, 'delete', count(*), round(sum(price), 2)
      FROM v2_del
    )
    """,
    tags=("update", "scan", "sink", "cdc", "streaming"),
)
def q_cow_change_feed_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staging is m22's; the operator under test is
    streaming/change_feed.stream_changes + the write-side change-file
    protocol under a live file-source checkpoint."""
    import tempfile

    from ..sources.cow_table import CowTable
    from ..streaming.change_feed import stream_changes

    orders = _t(spark, sf_dir, "orders").select(
        F.md5(F.col("o_orderkey").cast("string")).alias("k"),
        "o_orderkey", "o_orderpriority", "o_totalprice",
    )
    work = tempfile.mkdtemp(prefix="m23_cow_")
    table = CowTable.create(
        spark, f"{work}/orders", orders.repartition(12), change_feed=True
    )
    updates = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(50000.0)
    )
    inserts = orders.filter(F.col("o_orderkey") % 103 == 0).select(
        F.md5((F.col("o_orderkey") + 20000000).cast("string")).alias("k"),
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        "o_orderpriority", "o_totalprice",
    )
    table.merge(
        updates.unionByName(inserts),
        "k",
        deletes=orders.filter(F.col("o_orderkey") % 97 == 0).select("k"),
    )
    table.delete(
        "k", deletes=orders.filter(F.col("o_orderkey") % 89 == 0).select("k")
    )

    sink = f"{work}/delivered"

    def absorb(batch_df, _bid):
        batch_df.select(
            "o_totalprice", "_change_type", "_commit_version"
        ).write.mode("append").parquet(sink)

    q = (
        stream_changes(spark, f"{work}/orders")
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    delivered = spark.read.parquet(sink)
    return delivered.groupBy(
        F.col("_commit_version").cast("int").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
