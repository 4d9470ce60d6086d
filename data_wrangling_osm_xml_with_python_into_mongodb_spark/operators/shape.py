"""Document shaping: raw XML elements -> canonical cleaned documents.

Spark-native re-expression of the reference's ETL core ``shape_element``
(clean_and_write.py:230-381), designed around Spark's execution model:

1. **Outer-explode** tags into flat (k, v) rows, structural columns
   riding along (fan-out averages ~2.5 tags/element; within the fused
   stage pass-through columns cost a row-pointer copy, and partial
   aggregation collapses them before the shuffle).
2. **Clean on flat columns** -- key drop/rewrite and all value edits are
   top-level ``Column`` expressions (regexp/when/map-literal), which
   whole-stage codegen compiles.  Each non-trivial tree (key rewrite,
   value edits, list split, float guards, phone format, addr dispatch)
   is computed EXACTLY ONCE in its own projection layer; CollapseProject
   inlines a non-cheap expression only when it has a single downstream
   consumer, so the multi-consumer trees stay put.  Without the dedup
   the fused stage's generated method grows past what HotSpot will JIT
   and Janino compile time explodes (measured 7-40x slower end to end).
3. **Re-aggregate per element** -- one aggregation on ``_id`` with
   per-kind pre-filtered ``collect_list`` streams (null entries
   skipped) plus one ``first(struct(structural))`` -- functionally
   dependent on ``_id``, carried through the outer explode so the
   source is scanned exactly once.  Each typed map is a direct
   ``map_from_entries`` over its own (usually empty) collected list;
   promoted scalar columns derive post-agg from the keep-last-deduped
   maps, so they agree with the maps on duplicate-key elements.  Partial
   aggregation runs map-side, so the shuffle carries ~one compact row
   per element and no separate join is needed.

Mapping of the reference's per-element steps:

* attribute routing (clean_and_write.py:240-254)  -> structural columns
* problem-char tag drop (:14,283)                  -> flat filter
* key rewrites (:15,42-45,285-299)                 -> ``rewrite_key``
* per-key value edits (:195-227)                   -> ``misc_val_edits``
* list keys (:146-179), phone (:97-111)            -> promoted list columns + ``lists`` map
* int/float promotion (:51-58,218-226)             -> ``ints``/``floats`` maps + columns
* bool tags (:47-48,182-192)                       -> ``bools`` map
* subdivided roots (:60-61,128-143,309-332)        -> ``addr`` struct + ``subdocs`` map
  (recursive ``{a:{b:{c:v}}}`` nesting is untypeable at arbitrary depth in
  Spark's static schemas; the equivalent is the dot-path-addressable map
  ``subdocs['a']['b.c']`` -- :func:`subdoc_path` resolves Mongo dot paths)
* nd dedup + sort (:258,271-272,346-347)           -> ``array_sort(array_distinct(...))``
* validation invariants (:358-379)                 -> :func:`validate_documents`
* ref_docs materialization (mongo_audit.py:271-329)-> :func:`build_ref_docs`

The reference rebuilds ``ref_docs`` by drop-and-recreate; here it is
also maintained incrementally under an insert/delete batch, capped or
not, by one core: :func:`ref_docs_delta_changes` emits the changes for
mutable storage and :func:`apply_ref_docs_delta` returns the whole new
index.  Both the builder and the capped refill go through one posting
builder, :func:`_postings`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cleaning as C
from ..schema import ADDR_FIELDS

_STRUCTURAL = ["doc_type", "lat", "lon", "created", "nds", "members"]


def _split_list(v: Column) -> Column:
    """Semicolon split with per-element trim, singleton otherwise
    (clean_and_write.py:168-179) -- regex split keeps it codegen'd."""
    return F.when(
        v.contains(";"), F.split(F.trim(v), r"\s*;\s*")
    ).otherwise(F.array(v))


_ISIN_KEYS = list(C.IS_IN_MAP)


def _layer(df: DataFrame, *cols: Column) -> DataFrame:
    """Add derived columns as their own projection layer.  CollapseProject
    inlines a non-cheap producer expression only when it is referenced at
    most once downstream, so every multi-consumer tree added here is
    evaluated once per row; single-consumer trees are inlined, which is
    the same work.  (Verified against the optimized plan -- no barrier
    column needed.)"""
    return df.select("*", *cols)


def _dispatch_frame(raw: DataFrame) -> DataFrame:
    """The pre-aggregation half of :func:`shape_documents`: explode,
    clean on flat columns, dispatch into per-output columns.  Split out
    so the stage can be profiled/tested in isolation."""
    subdiv_no_addr = [r for r in C.SUBDIVIDE_LST if r != "addr"]

    k, v = F.col("k"), F.col("v")
    root = F.col("root")
    has_colon = F.col("has_colon")
    subpath = F.col("subpath")

    # explode_outer keeps tagless elements (null t); a problem-char or
    # null key nulls out k0 so the row still reaches the aggregation
    # (every promoted/entry expression is when()-guarded on k).
    t = F.col("t")
    k_ok = t["k"].isNotNull() & ~C.has_problem_chars(t["k"])
    kv = raw.select(
        "_id", *_STRUCTURAL, F.explode_outer("tags").alias("t")
    ).select(
        "_id",
        *_STRUCTURAL,
        F.when(k_ok, t["k"]).alias("k0"),
        t["v"].alias("v0"),
    )
    # One cleaning tree per projection layer: the key rewrite feeds the
    # value edits, the value edits feed everything.
    kv = _layer(kv, C.rewrite_key(F.col("k0")).alias("k")).drop("k0")
    kv = _layer(kv, C.misc_val_edits(k, F.col("v0")).alias("v")).drop("v0")

    # Shared typed/cleaned variants -- each tree exactly once, gated by
    # cheap `when`s so the expensive branches stay lazy per row.
    # Regex-free key anatomy (hot path, once per tag): substring_index /
    # instr scan bytes directly instead of entering the regex engine.
    kv = _layer(
        kv,
        F.substring_index(k, ":", 1).alias("root"),
        k.contains(":").alias("has_colon"),
        k.substr(F.instr(k, ":") + 1, F.length(k)).alias("subpath"),
    )
    kv = _layer(
        kv,
        F.when(k.isin(*C.LIST_KEYS) & (k != "phone"), _split_list(v)).alias(
            "list_v"
        ),
        # List-ify then per-element normalization (clean_and_write.py:
        # 300-305 + :97-111).  The ';'-free singleton (virtually every
        # phone tag) takes a NON-HOF branch: a transform() lambda is
        # CodegenFallback, so routing singletons through it evaluated
        # format_phone's regex/concat tree INTERPRETED per phone row --
        # jstack-sampled as the hottest block of the dispatch stage.
        # split(trim(v)) on a ';'-free value is exactly [trim(v)], so
        # the branches agree by construction.
        F.when(
            k == "phone",
            F.when(
                ~v.contains(";"), F.array(C.format_phone(F.trim(v)))
            ).otherwise(
                F.transform(
                    F.split(F.trim(v), r"\s*;\s*"), lambda p: C.format_phone(p)
                )
            ),
        ).alias("phone_v"),
        C.to_int_value(k, v).alias("int_v"),
        C.to_float_value(k, v).alias("float_v"),
        F.when(
            root.isin(*C.BOOL_TAGS_LST) & has_colon, C.to_bool_or_null(v)
        ).alias("bool_v"),
        F.when(
            (root == "addr") & has_colon, C.clean_addr_value(subpath, v)
        ).alias("addr_v"),
        # Reference pops a trailing '#unit' token off addr:street BEFORE
        # type-mapping and stores it in addr.unit (clean_and_write.py:
        # 66-77,323-326); split from the raw value here.
        F.when(k == "addr:street", C.split_unit_from_street(v)).alias(
            "addr_unit_street_v"
        ),
    )

    # Dispatch into per-output columns: every expression here is a
    # trivial `when` over already-computed columns, so the fused stage
    # stays small enough to JIT.
    list_v, phone_v = F.col("list_v"), F.col("phone_v")
    int_v, float_v = F.col("int_v"), F.col("float_v")
    kv = kv.select(
        "_id",
        *_STRUCTURAL,
        "k",
        F.when(
            k.isin(*C.LIST_KEYS),
            F.struct(
                k.alias("k"),
                F.when(k == "phone", phone_v).otherwise(list_v).alias("v"),
            ),
        )
        .when(
            k.isin(*_ISIN_KEYS),
            F.struct(k.alias("k"), C.isin_map_value(k).alias("v")),
        )
        .alias("entry_list"),
        F.when(k.isin(*C.TO_INT_LST), F.struct(k.alias("k"), int_v.alias("v"))).alias(
            "entry_int"
        ),
        F.when(
            k.isin(*C.TO_FLOAT_LST), F.struct(k.alias("k"), float_v.alias("v"))
        ).alias("entry_float"),
        F.when(
            F.col("root").isin(*C.BOOL_TAGS_LST) & F.col("has_colon"),
            F.struct(k.alias("k"), F.col("bool_v").alias("v")),
        ).alias("entry_bool"),
        F.when(
            F.col("has_colon") & F.col("root").isin(*subdiv_no_addr),
            F.struct(
                F.col("root").alias("r"),
                # Dot-joined remainder path: the reference nests a:b:c
                # recursively ({a:{b:{c:v}}}, clean_and_write.py:128-143);
                # arbitrary-depth structs are untypeable in Spark, so the
                # addressable equivalent is the Mongo dot path --
                # subdocs['a']['b.c'] ≡ a.b.c (see subdoc_path()).
                F.translate(F.col("subpath"), ":", ".").alias("p"),
                v.alias("val"),
            ),
        ).alias("entry_sub"),
        # addr rows: subpath-keyed cleaned value + the street-row
        # '#unit' token (us), feeding both the addr struct promotion and
        # the unit fallback post-agg.
        F.when(
            (F.col("root") == "addr") & F.col("has_colon"),
            F.struct(
                F.col("subpath").alias("k"),
                F.col("addr_v").alias("v"),
                F.col("addr_unit_street_v").alias("us"),
            ),
        ).alias("entry_addr"),
        # Null-guarded: tagless/problem-char rows must not feed the map
        # (map keys cannot be null); collect_list skips the nulls.
        F.when(k.isNotNull(), F.struct(k.alias("k"), v.alias("v"))).alias(
            "entry_tag"
        ),
    )
    return kv


def shape_documents(raw: DataFrame) -> DataFrame:
    """RAW_ELEMENT_SCHEMA -> DOCUMENT_SCHEMA via outer-explode + flat
    clean + one re-aggregation (see module docstring).

    Single-pass: the source is scanned ONCE -- structural columns ride
    along through the explode and come back out of the same hash
    aggregation as ``first()`` (they are functionally dependent on
    ``_id``).  A structural-frame + join design would scan the source
    twice (fatal when the source is a 3-rowTag XML scan: 6 parses) and
    add a join shuffle; carrying the structural columns costs only the
    per-tag fan-out of one row pointer, and map-side partial agg
    reduces them back to one row per element before the shuffle."""
    # Duplicate tag keys (e.g. name + name_1 after the _N strip) must
    # resolve last-writer-wins like the reference's dict update
    # (clean_and_write.py:355-356).  The collected entry array is
    # deduped explicitly ONCE below, so the pipeline is
    # semantics-neutral under ANY caller session conf -- no reliance on
    # spark.sql.mapKeyDedupPolicy, whose session-global mutation would
    # leak LAST_WIN semantics into unrelated caller queries.
    kv = _dispatch_frame(raw)

    # PRE-FILTERED per-kind collects: collect_list SKIPS null inputs,
    # so each typed entry stream arrives post-agg already filtered to
    # its own (usually empty or tiny) array and every map is ONE direct
    # map_from_entries -- no combined-struct re-extraction.  The earlier
    # designs measured on the 77 MB corpus, worst first: 28 agg
    # functions (6 first + 21 max + collect_list of a 7-field combined
    # struct) spent ~35% of the stage in interpreted
    # AggregationIterator update chains; 2 functions + post-agg
    # transform/filter per map moved that cost into ~15 interpreted HOF
    # passes per element.  This form pays 8 cheap interpreted updates
    # per tag row (null-check + append) and ~6 HOF passes per element,
    # most over empty arrays.  Promoted scalars derive post-agg: an
    # element_at on the maps (dup-free fast path) with a lazy array_max
    # fallback re-deriving the reference's max-over-all-rows semantics
    # only for elements whose tags contain a duplicate key after
    # rewrite.
    grp = kv.groupBy("_id").agg(
        F.first(F.struct(*_STRUCTURAL)).alias("_s"),
        F.collect_list("entry_list").alias("_l_list"),
        F.collect_list("entry_int").alias("_l_int"),
        F.collect_list("entry_float").alias("_l_float"),
        F.collect_list("entry_bool").alias("_l_bool"),
        F.collect_list("entry_sub").alias("_l_sub"),
        F.collect_list("entry_addr").alias("_l_addr"),
        F.collect_list("entry_tag").alias("_l_tag"),
    )
    grp = grp.select(
        "_id",
        *[F.col("_s")[c].alias(c) for c in _STRUCTURAL],
        *[c for c in grp.columns if c.startswith("_l_")],
    )

    # Duplicate tag keys (repeated XML keys, _N-strip collisions like
    # name + name_1) resolve last-TAG-wins, like the reference's dict
    # update (clean_and_write.py:355-356): dedup each collected list
    # keep-last before its map build, so map_from_entries never sees a
    # duplicate key.  Exception: LIST-kind entries merge by CONCAT (see
    # _merged_lists -- the reference extends list keys rather than
    # overwriting).  Per-kind keep-last equals global keep-last: a tag
    # key always dispatches to the same kinds, and every kind's map key
    # is an injective function of the tag key (k itself, subpath, or
    # (root, path)).
    #
    # Cost model: the dup-free common case (virtually every element)
    # pays ONE native array_distinct size probe on the tags-sized
    # array; only elements actually containing a duplicate key take
    # the quadratic interpreted-HOF keep-last scans (Spark's If
    # evaluates branches lazily per row).
    tag_keys = F.transform(F.col("_l_tag"), lambda e: e["k"])
    grp = grp.select(
        "*",
        # size-<2 short-circuit: And skips the transform/array_distinct
        # probe entirely for 0/1-tag elements.
        (
            (F.size(F.col("_l_tag")) > 1)
            & (F.size(tag_keys) != F.size(F.array_distinct(tag_keys)))
        ).alias("_dups"),
    )
    dups = F.col("_dups")

    def _keep_last(arr: Column, key_fn) -> Column:
        return F.filter(
            arr,
            lambda e, i: ~F.exists(
                F.slice(arr, i + 2, F.size(arr)),
                lambda later: key_fn(later) == key_fn(e),
            ),
        )

    def _dedup(col: str, key_fn=lambda e: e["k"]) -> Column:
        c = F.col(col)
        return F.when(dups, _keep_last(c, key_fn)).otherwise(c)

    def _merged_lists(arr: Column) -> Column:
        """Duplicate LIST keys follow the reference's extend, not its
        dict update: list_keys_dict[k].extend(v) accumulates values
        across repeated keys in document order (clean_and_write.py:
        300-305; name_1 strips to name first, :294-295), so
        (name="Z", name_1="B") yields name=["Z","B"].  is_in-keyed
        entries are the exception: their value is the constant
        IS_IN_MAP[k] feeding a SET in the reference (:264,350-351), so
        repeats keep one copy instead of concatenating."""
        keys = F.array_distinct(F.transform(arr, lambda e: e["k"]))
        return F.map_from_entries(
            F.transform(
                keys,
                lambda kk: F.struct(
                    kk,
                    F.when(
                        kk.isin(*_ISIN_KEYS),
                        F.filter(arr, lambda e: e["k"] == kk)[0]["v"],
                    ).otherwise(
                        F.flatten(
                            F.transform(
                                F.filter(arr, lambda e: e["k"] == kk),
                                lambda e: e["v"],
                            )
                        )
                    ),
                ),
            )
        )

    grp = grp.select(
        "*",
        F.when(dups, _merged_lists(F.col("_l_list")))
        .otherwise(F.map_from_entries(F.col("_l_list")))
        .alias("lists"),
        F.map_from_entries(_dedup("_l_int")).alias("ints"),
        F.map_from_entries(_dedup("_l_float")).alias("floats"),
        F.map_from_entries(_dedup("_l_bool")).alias("bools"),
        _dedup(
            "_l_sub",
            key_fn=lambda e: F.concat_ws("\x00", e["r"], e["p"]),
        ).alias("_sub_entries"),
        # addr rows keyed by subpath (street/unit/...): the fast-path
        # source for the promoted addr struct fields.  The us field is
        # dropped before the map build (map entries are (key, value)).
        F.map_from_entries(
            F.transform(
                _dedup("_l_addr"), lambda e: F.struct(e["k"], e["v"])
            )
        ).alias("_addr_map"),
        F.map_from_entries(_dedup("_l_tag")).alias("tags"),
    )

    # Promoted scalars read straight off the maps (keep-last for
    # scalar kinds, extend-merged for list kinds) -- so the promoted
    # columns can never disagree with the maps on a duplicate-key
    # element (the round-9 latent inconsistency: the old dup fallback
    # took array_max over ALL values, diverging from both the maps and
    # the reference's semantics).
    def _promoted(map_col: str, key: str) -> Column:
        return F.element_at(F.col(map_col), key)

    def _promoted_addr(f: str) -> Column:
        return F.element_at(F.col("_addr_map"), f)

    # Street-derived unit: the reference only writes unit when the
    # street value actually carries a '#unit' token (audit_addr,
    # clean_and_write.py:323-326 -- `if unit: update(...)`), so a later
    # street WITHOUT a token does not clear an earlier token: LAST
    # NON-NULL over the full undeduped list in document order.
    addr_unit_street = F.try_element_at(
        F.filter(
            F.transform(F.col("_l_addr"), lambda e: e["us"]),
            lambda us: us.isNotNull(),
        ),
        F.lit(-1),
    )
    has_addr = F.size("_l_addr") > 0

    # Post-agg: per-document array ops on small arrays (one pass each).
    sub = F.col("_sub_entries")
    sub_roots = F.array_distinct(F.transform(sub, lambda e: e["r"]))
    # Inner subdoc maps need no further dedup: (root, path) is an
    # injective function of the tag key, and the entry array was
    # deduped by tag key above.
    subdocs = F.map_from_entries(
        F.transform(
            sub_roots,
            lambda r: F.struct(
                r,
                F.map_from_entries(
                    F.transform(
                        F.filter(sub, lambda e: e["r"] == r),
                        lambda e: F.struct(e["p"], e["val"]),
                    )
                ),
            ),
        )
    )

    # Explicit addr:unit wins; else the '#unit' token split off
    # addr:street (reference audit_addr, clean_and_write.py:323-326).
    addr_struct = F.struct(
        *[
            F.coalesce(_promoted_addr("unit"), addr_unit_street).alias("unit")
            if f == "unit"
            else _promoted_addr(f).alias(f)
            for f in ADDR_FIELDS
        ]
    )

    return grp.select(
        "_id",
        "doc_type",
        "created",
        # pos only when BOTH coordinates exist (clean_and_write.py:
        # 251-252); a coordinate-less node keeps pos null and is
        # quarantined by validate_documents, as the reference flags it.
        F.when(
            (F.col("doc_type") == "node")
            & F.col("lat").isNotNull()
            & F.col("lon").isNotNull(),
            F.array("lat", "lon"),
        )
        .otherwise(F.lit(None).cast("array<double>"))
        .alias("pos"),
        F.when(
            F.col("doc_type") == "way", F.array_sort(F.array_distinct("nds"))
        )
        .otherwise(F.lit(None).cast("array<string>"))
        .alias("node_refs"),
        F.when(F.col("doc_type") == "relation", F.col("members"))
        .otherwise(
            F.lit(None).cast("array<struct<type:string,ref:string,role:string>>")
        )
        .alias("members"),
        _promoted("lists", "name").alias("name"),
        _promoted("lists", "phone").alias("phone"),
        _promoted("lists", "amenity").alias("amenity"),
        _promoted("lists", "shop").alias("shop"),
        # is_in's promoted value is a dataset CONSTANT per key
        # (isin_map_value), so keep-last == max and no dup fallback is
        # needed.
        F.element_at(F.col("lists"), "is_in").alias("is_in"),
        F.when(has_addr, addr_struct)
        .otherwise(
            F.lit(None).cast(
                "struct<" + ",".join(f"{f}:string" for f in ADDR_FIELDS) + ">"
            )
        )
        .alias("addr"),
        _promoted("ints", "ele").alias("ele"),
        _promoted("ints", "population").alias("population"),
        _promoted("ints", "lanes").alias("lanes"),
        _promoted("floats", "building:levels").alias(
            "building_levels"
        ),
        _promoted("floats", "maxheight").alias("maxheight"),
        # Defensive: the agg yields empty (not null) maps, but keep the
        # canonical-schema guarantee explicit.
        F.coalesce("lists", F.expr("map()").cast("map<string,array<string>>")).alias("lists"),
        F.coalesce("ints", F.expr("map()").cast("map<string,bigint>")).alias("ints"),
        F.coalesce("floats", F.expr("map()").cast("map<string,double>")).alias("floats"),
        F.coalesce("bools", F.expr("map()").cast("map<string,boolean>")).alias("bools"),
        F.when(F.size("_sub_entries") > 0, subdocs)
        .otherwise(F.lit(None).cast("map<string,map<string,string>>"))
        .alias("subdocs"),
        F.coalesce("tags", F.expr("map()").cast("map<string,string>")).alias("tags"),
    )


def subdoc_path(subdocs: Column, path: str) -> Column:
    """Resolve a Mongo dot path (``service.bicycle.pump``) against the
    ``subdocs`` map -- the query-side equivalent of the reference's
    recursive subdocument nesting (clean_and_write.py:128-143): the
    first segment is the subdoc root, the dot-joined remainder is the
    inner key.  Null-safe (missing root or leaf -> null)."""
    root, _, rest = path.partition(".")
    return F.element_at(F.element_at(subdocs, F.lit(root)), F.lit(rest))


def validity_predicate() -> Column:
    """The document-kind invariants (clean_and_write.py:358-379) as one
    boolean column expression over DOCUMENT_SCHEMA."""
    is_node = (
        (F.col("doc_type") == "node")
        & F.col("pos").isNotNull()
        & (F.size("pos") == 2)
        & F.col("node_refs").isNull()
        & F.col("members").isNull()
    )
    is_way = (
        (F.col("doc_type") == "way")
        & F.col("node_refs").isNotNull()
        & F.col("pos").isNull()
        & F.col("members").isNull()
    )
    is_rel = (
        (F.col("doc_type") == "relation")
        & F.col("members").isNotNull()
        & F.col("pos").isNull()
        & F.col("node_refs").isNull()
    )
    return is_node | is_way | is_rel


def validate_documents(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Document-kind invariants as a filter pair: (valid, quarantine).
    The reference prints violations; at scale a quarantine table is the
    auditable equivalent."""
    ok = validity_predicate()
    return docs.filter(ok), docs.filter(~ok)


def _ref_pairs(docs: DataFrame) -> DataFrame:
    """(src_id, ref) edge stream of the reference index: way node_refs
    (already deduped per way by shape_documents) plus relation member
    refs (duplicates KEPT -- the reference counts them)."""
    way_refs = docs.select(
        F.col("_id").alias("src_id"), F.explode_outer("node_refs").alias("ref")
    )
    rel_refs = docs.select(
        F.col("_id").alias("src_id"),
        F.explode_outer(F.col("members")["ref"]).alias("ref"),
    )
    return way_refs.unionByName(rel_refs).filter(F.col("ref").isNotNull())


def _postings(pairs: DataFrame, cap: int | None) -> DataFrame:
    """``(src_id, ref)`` pairs -> index rows: ``(_id, refers)`` with
    every referencing id sorted, or with ``cap`` ``(_id, refers,
    refer_count)`` -- the ``cap`` smallest referencing ids by RANK
    plus the exact total.  The capped form is one window exchange
    (row_number, sort-based and spill-safe, which also yields the
    total), so no aggregation buffer ever holds more than ``cap``
    entries even for a hot referenced id."""
    if cap is None:
        return (
            pairs.groupBy("ref")
            .agg(F.array_sort(F.collect_list("src_id")).alias("refers"))
            .select(F.col("ref").alias("_id"), "refers")
        )
    from pyspark.sql import Window

    by_ref = Window.partitionBy("ref")
    ranked = pairs.select(
        "ref",
        "src_id",
        F.count(F.lit(1)).over(by_ref).alias("_total"),
        F.row_number().over(by_ref.orderBy("src_id")).alias("_rn"),
    )
    return (
        ranked.filter(F.col("_rn") <= cap)
        .groupBy("ref")
        .agg(
            F.array_sort(F.collect_list("src_id")).alias("refers"),
            F.first("_total").alias("refer_count"),
        )
        .select(F.col("ref").alias("_id"), "refers", "refer_count")
    )


def build_ref_docs(docs: DataFrame, cap: int | None = None) -> DataFrame:
    """The inverted reference index (mongo_audit.py:271-329): for every
    referenced id, the sorted list of referencing document ids, plus
    ``refer_count`` (the exact full cardinality) when capped.

    Scale: explode is narrow; the single shuffle is keyed on the
    referenced id.  Uncapped (reference parity at its 77 MB scale) the
    posting list buffer is bounded only by per-key fanout; pass
    ``cap`` for the production shape (see :func:`_postings`)."""
    return _postings(_ref_pairs(docs), cap)


def _ref_docs_delta(
    index: DataFrame,
    inserted_docs: DataFrame,
    deleted_docs: DataFrame,
    cap: int | None,
    corpus_after: DataFrame | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The one maintainer core: ``(delta, upserts, delete_keys)`` --
    the batch's per-ref aggregate (its ``ref`` column is every ref the
    batch touches), the recomputed postings of the touched refs that
    stay referenced, and the ``_id``s whose postings emptied out.

    Removal is a per-element filter (NOT array_except, which would
    set-ify the duplicate member refs the index keeps) and insertion
    is concat + sort.  Capped, ``refer_count`` merges by pure addition
    and ``refers`` as top-cap of (prefix survivors ++ inserted srcs),
    which is the true top-cap unless an over-cap posting lost a prefix
    entry (only then can a rank-larger id beyond the stored prefix
    enter it); those rows are refilled exactly from ``corpus_after``."""
    if cap is not None and corpus_after is None:
        raise ValueError(
            "a capped ref_docs delta needs corpus_after (the post-batch "
            "corpus) to refill over-cap postings"
        )
    is_del = F.col("_is_del")
    pairs = _ref_pairs(inserted_docs).withColumn(
        "_is_del", F.lit(False)
    ).unionByName(
        _ref_pairs(deleted_docs).withColumn("_is_del", F.lit(True))
    )
    # One shuffle for the whole delta: both posting deltas aggregate in
    # a single groupBy (collect_list/collect_set skip the marker-
    # mismatched nulls) -- two aggregations glued by a full-outer join
    # cannot broadcast either side and planned as a SortMergeJoin.  The
    # batch-sized aggregate feeds several broadcast builds (touched
    # semi, merge outer, untouched anti); localCheckpoint materializes
    # it once instead of re-running the batch scan + shuffle per build
    # -- measured 3.4s -> ~1s at a 400k-way corpus.
    delta = pairs.groupBy("ref").agg(
        F.collect_list(F.when(~is_del, F.col("src_id"))).alias("_ins"),
        F.collect_set(F.when(is_del, F.col("src_id"))).alias("_del"),
        *([] if cap is None else [F.sum(is_del.cast("long")).alias("_n_del")]),
    ).localCheckpoint(eager=False)
    # Touched subset first (broadcast semi: the index never shuffles),
    # then delta LEFT OUTER touched with the small touched side
    # broadcast -- a right outer with a broadcast delta would NOT plan
    # that way (Spark rejects broadcasting the preserved side of a
    # right outer join and falls back to a SortMergeJoin over the
    # index).  The left outer keeps batch-introduced refs.
    touched = index.withColumnRenamed("_id", "ref").join(
        F.broadcast(delta.select("ref")), "ref", "semi"
    )
    old = F.coalesce(F.col("refers"), F.array().cast("array<string>"))
    kept = F.filter(old, lambda x: ~F.array_contains(F.col("_del"), x))
    old_count = F.coalesce(F.col("refer_count"), F.lit(0))
    counts = [] if cap is None else [
        (old_count + F.size("_ins") - F.col("_n_del")).alias("refer_count"),
        (old_count > cap).alias("_over_cap"),
    ]
    merged = delta.join(F.broadcast(touched), "ref", "left").select(
        F.col("ref").alias("_id"),
        "_ins",
        kept.alias("_kept"),
        F.size(old).alias("_old_n"),
        *counts,
    )
    refers = F.array_sort(F.concat(F.col("_kept"), F.col("_ins")))
    if cap is None:
        merged = merged.select("_id", refers.alias("refers"))
        live = F.size("refers") > 0
        return delta, merged.filter(live), merged.filter(~live).select("_id")

    # Driver-side adaptivity (same class of step as dd9's convergence
    # loop): eagerly materialize the batch-sized merge once, then only
    # attach the refill subplan when something is actually flagged.
    # Without this, the refill's corpus-pair probe scan executes even
    # when the flagged broadcast is EMPTY (AQE does not collapse the
    # semi-join's probe side under the union here -- measured: the
    # common no-refill batch paid a full corpus scan for zero rows).
    merged = merged.select(
        "_id",
        F.slice(refers, 1, cap).alias("refers"),
        F.col("refer_count").cast("long").alias("refer_count"),
        (
            F.col("_over_cap") & (F.size("_kept") < F.col("_old_n"))
        ).alias("_refill"),
    ).localCheckpoint(eager=True)
    live = F.col("refer_count") > 0
    upserts = merged.filter(live & ~F.col("_refill")).drop("_refill")
    flagged = merged.filter(F.col("_refill")).select(F.col("_id").alias("ref"))
    if not flagged.isEmpty():
        # Exact refill, pruned BEFORE the window: only flagged refs'
        # pairs survive the broadcast semi, so the window shuffles a
        # flagged-sized slice of the corpus, not the corpus.
        upserts = upserts.unionByName(_postings(
            _ref_pairs(corpus_after).join(F.broadcast(flagged), "ref", "semi"),
            cap,
        ))
    return delta, upserts, merged.filter(~live).select("_id")


def ref_docs_delta_changes(
    index: DataFrame,
    inserted_docs: DataFrame,
    deleted_docs: DataFrame,
    cap: int | None = None,
    corpus_after: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Maintain the ref_docs index built by :func:`build_ref_docs`
    (with the same ``cap``) under an element insert/delete batch, as
    changes for MUTABLE storage: ``(upserts, delete_keys)`` -- the
    recomputed postings of every touched ref that stays referenced,
    and the ``_id``s whose postings emptied out.  Feeding these to a
    copy-on-write MERGE (:meth:`sources.cow_table.CowTable.merge` with
    ``deletes=``, or a real Delta/Iceberg ``MERGE``) rewrites only the
    files containing touched refs.

    The warehouse-style alternative to the reference's drop-and-
    recreate (mongo_audit.py:271-329): the historical corpus is NEVER
    rescanned -- a deleted element's outgoing refs come off its own
    document (available in any CDC feed at delete time), and every
    join over the index is a broadcast build-right, so the index is
    never shuffled.

    ``cap`` needs ``corpus_after``, the corpus after the batch: a
    capped posting that lost a prefix entry is refilled from it,
    restricted FIRST by a broadcast semi-join on the flagged refs (a
    keyed pruned read, never a historical rescan).  Neither form is a
    pure plan-builder: the batch aggregate's shuffle runs at call time
    (with AQE on, even a lazy localCheckpoint runs the stage below it),
    and the capped form adds one eager batch-sized checkpoint and an
    ``isEmpty`` probe, so the common no-refill batch never touches
    ``corpus_after``."""
    _delta, upserts, delete_keys = _ref_docs_delta(
        index, inserted_docs, deleted_docs, cap, corpus_after
    )
    return upserts, delete_keys


def apply_ref_docs_delta(
    index: DataFrame,
    inserted_docs: DataFrame,
    deleted_docs: DataFrame,
    cap: int | None = None,
    corpus_after: DataFrame | None = None,
) -> DataFrame:
    """The whole new index: :func:`ref_docs_delta_changes` applied to
    ``index``.  Refs the batch touches are carved out by a broadcast
    anti-join (so emptied postings drop, exactly as a rebuild would
    lack them) and the upserts are unioned back in; everything else
    passes through untouched.  Same arguments and plan properties as
    :func:`ref_docs_delta_changes`."""
    delta, upserts, _delete_keys = _ref_docs_delta(
        index, inserted_docs, deleted_docs, cap, corpus_after
    )
    untouched = index.join(
        F.broadcast(delta.select(F.col("ref").alias("_id"))), "_id", "left_anti"
    )
    return untouched.unionByName(upserts)


def nest_pairs(entries: list[tuple[str, str]]) -> dict:
    """The recursive core of :func:`nest_subdocs_json` (reference
    subdiv_key, clean_and_write.py:128-143), exposed at module level
    so the roundtrip property (nest -> flatten == input) is testable
    without a Spark job per example (tests/test_osm_pipeline.py
    hypothesis suite).  Conflicting key shapes fail fast with the
    offending key named."""
    out: dict = {}
    for k, v in entries:
        parts = k.split(":")
        node = out
        for seg in parts[:-1]:
            nxt = node.get(seg)
            if nxt is None:
                nxt = node[seg] = {}
            elif not isinstance(nxt, dict):
                raise ValueError(
                    f"subdocument conflict: {k!r} descends "
                    f"through leaf key {seg!r}"
                )
            node = nxt
        leaf = parts[-1]
        if isinstance(node.get(leaf), dict):
            raise ValueError(
                f"subdocument conflict: leaf {k!r} collides "
                f"with an existing subdocument"
            )
        node[leaf] = v
    return out


def nest_subdocs_json(pairs: DataFrame) -> DataFrame:
    """TRUE recursive subdocument nesting (reference
    clean_and_write.py:128-143 ``subdiv_key``): colon-separated tag
    keys become arbitrarily deep nested documents, one canonical JSON
    text per (element, root key).

    Input: ``(id bigint, k string, v string)`` with ``k`` containing
    at least one ``:``; at most one row per (id, k).  Output:
    ``(id, root, subdoc)`` where ``subdoc`` is the nested document as
    canonical JSON -- sorted keys, compact separators -- so two
    engines (or two runs) produce byte-identical text.

    Unlike the dot-path map (``subdoc_path``, the flat columnar
    stand-in documented as the F8 deviation), this reproduces the
    reference's recursion EXACTLY, at any depth.  Arbitrary-depth
    nesting has no static columnar type, so the assembly step is an
    Arrow-batched ``mapInPandas`` over id-grouped pairs -- Python
    touches each pair once; everything before (explode, filter,
    dedupe) and after (group-bys, joins) stays JVM-side.  A malformed
    corpus where one key is both a leaf and a prefix
    (``a:b`` = x AND ``a:b:c`` = y) fails fast with the conflicting
    key named -- the reference crashes with a bare AttributeError on
    the same input (clean_and_write.py:139).

    Scale: one shuffle keyed on element id (the same key the document
    builder already groups by, so it co-partitions with
    shape_documents' aggregation); per-group state is one element's
    tag list.  Python cost is O(total tag pairs), Arrow-batched.
    """
    import json

    from ..schema import RAW_ELEMENT_SCHEMA  # noqa: F401  (cited schema)

    nest = nest_pairs

    def _assemble(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for id_, entries in zip(pdf["id"], pdf["entries"]):
                # entries: list of {"k":..., "v":...}; sort for a
                # deterministic insertion order (dict-update = last
                # wins in the reference; dedupe upstream makes order
                # only a determinism concern, not a semantics one).
                pairs_ = sorted((e["k"], e["v"]) for e in entries)
                by_root: dict[str, list] = {}
                for k, v in pairs_:
                    root, _, rest = k.partition(":")
                    by_root.setdefault(root, []).append((rest, v))
                for root, sub in by_root.items():
                    rows.append(
                        (
                            id_,
                            root,
                            json.dumps(
                                nest(sub),
                                sort_keys=True,
                                separators=(",", ":"),
                                ensure_ascii=False,
                            ),
                        )
                    )
            yield pd.DataFrame(rows, columns=["id", "root", "subdoc"])

    grouped = pairs.groupBy("id").agg(
        F.collect_list(F.struct("k", "v")).alias("entries")
    )
    return grouped.mapInPandas(
        _assemble, "id bigint, root string, subdoc string"
    )
