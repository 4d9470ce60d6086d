"""End-to-end OSM pipeline test: XML scan -> shaping -> invariants ->
ref_docs materialization, on the fixture exercising every cleaning
trigger (FIXTURES.md §A1; golden semantics from the reference's own
spot checks, main.ipynb cells 17/23)."""

from __future__ import annotations

import os

import pytest

from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators import (
    build_ref_docs,
    shape_documents,
    validate_documents,
)
from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import read_osm_elements

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "sample.osm")


@pytest.fixture(scope="module")
def docs(spark):
    raw = read_osm_elements(spark, FIXTURE)
    return {r["_id"]: r.asDict(recursive=True) for r in shape_documents(raw).collect()}


def test_element_counts(spark):
    raw = read_osm_elements(spark, FIXTURE)
    counts = dict(
        (r["doc_type"], r["n"])
        for r in raw.groupBy("doc_type").count().withColumnRenamed("count", "n").collect()
    )
    assert counts == {"node": 5, "way": 2, "relation": 1}


def test_structural_routing(docs):
    node = docs["1001"]
    assert node["doc_type"] == "node"
    assert node["pos"] == [48.75, -122.48]
    assert node["created"]["user"] == "alice"
    assert node["node_refs"] is None and node["members"] is None

    way = docs["2001"]
    # dedup'd + sorted (clean_and_write.py:346-347)
    assert way["node_refs"] == ["1001", "1002", "1003"]
    assert way["pos"] is None and way["members"] is None

    rel = docs["3001"]
    assert [m["ref"] for m in rel["members"]] == ["2001", "1004", "1001"]
    assert rel["pos"] is None and rel["node_refs"] is None


def test_cleaning_triggers(docs):
    n1 = docs["1001"]
    # phone list + format (main.ipynb cell 17 golden); contact:phone
    # strips to phone and the reference EXTENDS list keys, so both
    # numbers accumulate in document order (clean_and_write.py:300-305)
    assert n1["phone"] == ["+1-360-555-9999 x1234", "+1-360-398-8300"]
    # addr struct: street type + unit pop, postcode typo fix, housename
    assert n1["addr"]["street"] == "Ellis Street"
    # popped '#unit' token lands in addr.unit (clean_and_write.py:323-326)
    assert n1["addr"]["unit"] == "#215"
    assert n1["addr"]["postcode"] == "98248"
    assert n1["addr"]["housename"] == "Roasters Building"
    # bool map (payment:*/fuel:*): yes/no promote, junk stays null
    assert n1["bools"]["payment:visa"] is True
    assert n1["bools"]["payment:cash"] is False
    assert n1["bools"]["fuel:diesel"] is None
    # int promotion incl. float-ish input
    assert n1["lanes"] == 2 and n1["ele"] == 33
    # problem-char key dropped
    assert "bad key" not in n1["tags"]
    # _N suffix strip + contact: prefix strip (keys merge into name/phone)
    assert "name_1" not in n1["tags"] and "contact:phone" not in n1["tags"]

    n2 = docs["1002"]
    # semicolon list split
    assert n2["lists"]["opening_hours"] == [
        "Tu-Th 07:00-19:00",
        "Sa, Su 10:00-17:00",
    ]
    # subdivided roots -> dot-path subdoc maps (depth-2 key nests as
    # the dot-joined remainder, matching Mongo path service.bicycle.pump)
    assert n2["subdocs"]["service"]["bicycle.pump"] == "yes"
    assert n2["subdocs"]["wiki"]["symbol"] == "W"
    # float guards: '3s' -> 3.0
    assert n2["floats"]["building:levels"] == 3.0
    assert n2["maxheight"] == 4.5
    # IS_IN_MAP constant replacement (clean_and_write.py:216-217):
    # raw values are overwritten with the dataset constants
    assert n2["is_in"] == ["USA", "WA", "Whatcom County", "Bellingham"]
    assert n2["lists"]["is_in:country"] == ["USA"]
    assert n2["tags"]["is_in:country"] == "United States"  # lossless raw
    # gnis typo fix keeps gnis keys verbatim otherwise
    assert n2["tags"]["gnis:ST_alpha"] == "53"
    # gnis:County_num '73' -> '073' value fix (clean_and_write.py:287)
    assert n2["tags"]["gnis:County_num"] == "073"

    n3 = docs["1003"]
    # street-type map: Guide Meridian -> Guide Meridian Road (cell 23)
    assert n3["addr"]["street"] == "Guide Meridian Road"
    # designation snake-cased
    assert n3["tags"]["designation"] == "public_footpath"
    # maxheight with quote chars skipped -> null
    assert n3["floats"]["maxheight"] is None

    # WRONG_KEY_MAP rename: image -> wikimedia_commons
    assert docs["2002"]["tags"]["wikimedia_commons"] == "File:foo.jpg"
    # street-type token map on name is NOT applied (names are lists)
    assert docs["2001"]["name"] == ["Meadowbrook Count"]


def test_invariants_quarantine_coordless_node(spark, docs):
    # Node 1005 has no lat/lon: pos stays null (clean_and_write.py:
    # 251-252) and validation quarantines it (:363-367).
    assert docs["1005"]["pos"] is None
    raw = read_osm_elements(spark, FIXTURE)
    valid, quarantine = validate_documents(shape_documents(raw))
    assert [r["_id"] for r in quarantine.collect()] == ["1005"]
    assert valid.count() == 7


def test_subdoc_path_addressing(spark):
    from pyspark.sql import functions as F

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import subdoc_path

    raw = read_osm_elements(spark, FIXTURE)
    got = (
        shape_documents(raw)
        .select(
            "_id",
            subdoc_path(F.col("subdocs"), "service.bicycle.pump").alias("pump"),
        )
        .filter(F.col("pump").isNotNull())
        .collect()
    )
    assert [(r["_id"], r["pump"]) for r in got] == [("1002", "yes")]


def test_ref_docs_index(spark):
    raw = read_osm_elements(spark, FIXTURE)
    ref = {
        r["_id"]: r["refers"]
        for r in build_ref_docs(shape_documents(raw)).collect()
    }
    # node 1003 referenced by both ways
    assert ref["1003"] == ["2001", "2002"]
    # way 2001 referenced by the relation
    assert ref["2001"] == ["3001"]
    # node 1001 referenced by way 2001 and relation 3001
    assert ref["1001"] == ["2001", "3001"]


def test_iterparse_fallback_matches_xml_source(spark):
    """The split reader's whole-file branch must yield exactly the
    rows the rowTag XML source yields (same schema, same values)."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        _read_whole_files,
    )

    a = read_osm_elements(spark, FIXTURE)
    b = _read_whole_files(spark, FIXTURE, 1)
    # simpleString ignores nullability flags (the union relaxes them).
    assert a.schema.simpleString() == b.schema.simpleString()
    key = lambda r: r["_id"]  # noqa: E731
    rows_a = sorted((r.asDict(recursive=True) for r in a.collect()), key=key)
    rows_b = sorted((r.asDict(recursive=True) for r in b.collect()), key=key)
    assert rows_a == rows_b


def test_iterparse_chunked_flush_boundaries(spark):
    """Chunk feeding must tolerate splits landing mid-element and
    mid-flush: a pathological 64-byte chunk size with a 3-row batch
    cap must yield exactly the rows the default path yields."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        _read_whole_files,
    )

    a = read_osm_elements(spark, FIXTURE)
    b = _read_whole_files(spark, FIXTURE, 1, batch_rows=3, chunk_bytes=64)
    key = lambda r: r["_id"]  # noqa: E731
    rows_a = sorted((r.asDict(recursive=True) for r in a.collect()), key=key)
    rows_b = sorted((r.asDict(recursive=True) for r in b.collect()), key=key)
    assert rows_a == rows_b


def test_rowtag_reader_missing_path_raises(spark, tmp_path):
    """A missing input is an error, not an empty frame: the rowTag
    reader raises Spark's PATH_NOT_FOUND, as the split reader does."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        read_osm_elements_split,
    )

    missing = str(tmp_path / "no_such.osm")
    for read in (read_osm_elements, read_osm_elements_split):
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            read(spark, missing).count()


def test_rowtag_reader_reads_relationless_file(spark, tmp_path):
    """A file without a relation still yields its nodes and ways: an
    absent rowTag reads as zero rows under the explicit schema."""
    f = tmp_path / "no_relations.osm"
    f.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n<osm>\n'
        ' <node id="1" lat="1.0" lon="2.0" version="1"/>\n'
        ' <node id="2" lat="3.0" lon="4.0" version="1"/>\n'
        ' <way id="10" version="1"><nd ref="1"/><nd ref="2"/>'
        '<tag k="highway" v="residential"/></way>\n'
        '</osm>\n'
    )
    got = {
        r["_id"]: (r["doc_type"], r["nds"])
        for r in read_osm_elements(spark, str(f)).collect()
    }
    assert got == {
        "1": ("node", None),
        "2": ("node", None),
        "10": ("way", ["1", "2"]),
    }


def test_split_reader_matches_xml_source_multi_split(spark):
    """The byte-range split reader must yield exactly the rows the
    rowTag XML source yields even when every file fans out into MANY
    tiny splits -- this is the adversarial case for the boundary
    resync / ownership / tail-extension protocol (a 37-byte split lands
    mid-tag, mid-element, and mid-multibyte position repeatedly, and an
    8-byte tail forces multiple read extensions per task)."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        read_osm_elements_split,
    )

    a = read_osm_elements(spark, FIXTURE)
    key = lambda r: r["_id"]  # noqa: E731
    rows_a = sorted((r.asDict(recursive=True) for r in a.collect()), key=key)
    for split_bytes, tail_bytes in ((37, 8), (256, 64), (1 << 20, 1 << 10)):
        b = read_osm_elements_split(
            spark,
            FIXTURE,
            split_bytes=split_bytes,
            tail_bytes=tail_bytes,
            chunk_bytes=64,
            batch_rows=3,
        )
        assert a.schema.simpleString() == b.schema.simpleString()
        rows_b = sorted((r.asDict(recursive=True) for r in b.collect()), key=key)
        assert rows_b == rows_a, f"split_bytes={split_bytes}"


def test_materialize_raw_bronze_roundtrip_and_no_exchange(spark, tmp_path):
    """The single-pass bronze materialization must (a) round-trip the
    exact rows the direct XML read yields, and (b) leave the bucketed
    layout that makes shape_documents' groupBy(_id) exchange-free --
    the property that kills the ETL shuffle at 100 TB."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import materialize_raw

    bronze = materialize_raw(
        spark, FIXTURE, str(tmp_path / "bronze"), table="test_bronze"
    )
    try:
        # the derived default: a tiny input gets one bucket per core
        assert _num_buckets(spark, "test_bronze") == (
            spark.sparkContext.defaultParallelism
        )
        key = lambda r: r["_id"]  # noqa: E731
        rows_a = sorted(
            (r.asDict(recursive=True) for r in read_osm_elements(spark, FIXTURE).collect()),
            key=key,
        )
        rows_b = sorted((r.asDict(recursive=True) for r in bronze.collect()), key=key)
        assert rows_a == rows_b

        docs = shape_documents(bronze)
        plan = docs._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert docs.count() == 8
    finally:
        spark.sql("DROP TABLE IF EXISTS test_bronze")


def _num_buckets(spark, table: str) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r["data_type"] for r in rows if r["col_name"] == "Num Buckets"))


def test_bronze_buckets_rule():
    """One bucket per split's worth of XML, at least one per core, at
    most the session's bucket cap."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        _bronze_buckets,
    )

    split = 128 << 20
    assert _bronze_buckets(2_400_000, split, 4, 100_000) == 4
    assert _bronze_buckets(10 * split, split, 4, 100_000) == 10
    assert _bronze_buckets(10 * split + 1, split, 4, 100_000) == 11
    assert _bronze_buckets(10 * split, split, 32, 100_000) == 32
    assert _bronze_buckets(10 * split, split, 4, 6) == 6
    assert _bronze_buckets(0, split, 4, 100_000) == 4


def test_materialize_raw_keeps_explicit_buckets(spark, tmp_path):
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import materialize_raw

    materialize_raw(
        spark, FIXTURE, str(tmp_path / "bronze"), table="test_bronze_3", buckets=3
    )
    try:
        assert _num_buckets(spark, "test_bronze_3") == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS test_bronze_3")


def test_run_pipeline_bucket_count_invariant(spark, tmp_path):
    """The bronze bucket count is a layout choice only: the derived
    default and a fixed 32 write the same rows to every sink."""
    import json as _json

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.pipeline import run_pipeline

    def rows(df):
        return sorted(
            (r.asDict(recursive=True) for r in df.collect()),
            key=lambda d: _json.dumps(d, sort_keys=True, default=str),
        )

    def json_lines(out):
        n = 0
        for f in (out / "documents.json").glob("part-*"):
            with open(f) as fh:
                n += sum(1 for ln in fh if ln.strip())
        return n

    a = run_pipeline(spark, FIXTURE, str(tmp_path / "a"), write_json_sink=True)
    b = run_pipeline(
        spark, FIXTURE, str(tmp_path / "b"), write_json_sink=True, buckets=32
    )
    for name in ("documents", "quarantine", "ref_docs"):
        assert rows(getattr(a, name)) == rows(getattr(b, name)), name
    assert a.counts == b.counts
    assert json_lines(tmp_path / "a") == json_lines(tmp_path / "b") > 0


def test_run_pipeline_end_to_end(spark, tmp_path):
    """The one-call process_map equivalent: bronze + documents +
    quarantine + capped ref_docs land on disk with consistent counts
    and doc_type partition pruning available on the serving table."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.pipeline import run_pipeline

    res = run_pipeline(spark, FIXTURE, str(tmp_path / "out"), write_json_sink=True)
    assert res.counts["raw_elements"] == 8
    assert res.counts["documents"] + res.counts["quarantined"] == 8
    assert res.counts["ref_docs"] > 0
    # partitioned serving layout
    assert (tmp_path / "out" / "documents.parquet" / "doc_type=node").exists()
    # json sink holds one line per valid document
    import glob
    import json as _json

    lines = []
    for f in glob.glob(str(tmp_path / "out" / "documents.json" / "part-*")):
        with open(f) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln.strip()]
    assert len(lines) == res.counts["documents"]
    assert all("_id" in _json.loads(ln) for ln in lines)
    # bronze registration is transient; files stay for downstream reuse
    assert not any(
        t.name.startswith("pipeline_bronze") for t in spark.catalog.listTables()
    )
    assert (tmp_path / "out" / "bronze").exists()


def test_shape_documents_adversarial_inputs(spark):
    """Hostile raw rows must shape without throwing and keep the
    document invariants: null/empty tag arrays, null tag values, null
    keys, problem-char keys, duplicate keys after rewrite, deep
    subdivided keys, coordinate-less nodes, empty nds/members."""
    from pyspark.sql import Row

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.schema import RAW_ELEMENT_SCHEMA

    def el(_id, doc_type, **kw):
        base = dict(
            doc_type=doc_type,
            _id=_id,
            lat=kw.get("lat"),
            lon=kw.get("lon"),
            created=kw.get("created"),
            nds=kw.get("nds"),
            members=kw.get("members"),
            tags=kw.get("tags"),
        )
        return Row(**base)

    t = lambda k, v: Row(k=k, v=v)  # noqa: E731
    rows = [
        el("n1", "node", lat=1.0, lon=2.0, tags=None),           # no tags
        el("n2", "node", lat=1.0, lon=2.0, tags=[]),             # empty tags
        el("n3", "node", lat=1.0, lon=2.0, tags=[t("name", None)]),   # null value
        el("n4", "node", lat=1.0, lon=2.0, tags=[t(None, "x")]),      # null key
        el("n5", "node", lat=1.0, lon=2.0, tags=[t("bad key", "x")]), # problem chars
        el("n6", "node", tags=[t("name", "NoCoords")]),          # coordinate-less
        el(
            "n7",
            "node",
            lat=1.0,
            lon=2.0,
            # name_1 rewrites to name -> duplicate LIST key: the
            # reference EXTENDS list keys (clean_and_write.py:300-305),
            # so the promoted list concatenates in document order while
            # the raw-tag map keeps last.  "Z" > "B" so a max fallback
            # (the round-9 latent bug) would also diverge.
            tags=[t("name", "Z"), t("name_1", "B")],
        ),
        el(
            "n9",
            "node",
            lat=1.0,
            lon=2.0,
            # duplicate addr:street, BOTH with '#unit' tokens: the
            # reference's conditional dict update keeps the LAST unit
            # ("12"); lexicographic max over the strings would keep
            # "9".  street itself is keep-last then type-mapped.
            tags=[t("addr:street", "Main St #9"), t("addr:street_1", "Pine Ave #12")],
        ),
        el(
            "n8",
            "node",
            lat=1.0,
            lon=2.0,
            tags=[t("service:bicycle:pump:deep:deeper", "yes"), t("addr:street", None)],
        ),
        el("w1", "way", nds=[], tags=[t("highway", "x")]),       # empty nds
        el("r1", "relation", members=[], tags=None),             # empty members
    ]
    raw = spark.createDataFrame(rows, RAW_ELEMENT_SCHEMA)
    docs = {r["_id"]: r.asDict(recursive=True) for r in shape_documents(raw).collect()}
    assert len(docs) == 11
    for _id in ("n1", "n2", "n3", "n4", "n5"):
        assert docs[_id]["doc_type"] == "node" and docs[_id]["pos"] == [1.0, 2.0]
    assert docs["n3"]["tags"] == {"name": None}
    assert docs["n4"]["tags"] == {} and docs["n5"]["tags"] == {}
    assert docs["n6"]["pos"] is None  # quarantined by validity, not crashed
    assert docs["n7"]["tags"]["name"] == "B"  # dict-update last-wins
    # the PROMOTED list concatenates across the duplicate key
    # (reference extend semantics), agreeing with the lists map
    assert docs["n7"]["name"] == ["Z", "B"]
    assert docs["n9"]["addr"]["street"] == "Pine Avenue"
    # reference keeps the whole '#'-token (clean_street_type,
    # clean_and_write.py:66-72); LAST wins ('#9' > '#12' lexically,
    # so a max fallback would keep '#9')
    assert docs["n9"]["addr"]["unit"] == "#12"
    assert docs["n8"]["subdocs"]["service"]["bicycle.pump.deep.deeper"] == "yes"
    assert docs["w1"]["node_refs"] == [] and docs["r1"]["members"] == []

    valid, quarantine = validate_documents(shape_documents(raw))
    assert {r["_id"] for r in quarantine.collect()} == {"n6"}


def test_split_reader_boundary_protocol_property(spark):
    """Property form of the multi-split differential: for ANY
    (split_bytes, tail_bytes) the boundary resync / ownership / tail
    -extension protocol must reproduce the rowTag source's rows
    exactly.  Draws are pinned (derived from a fixed seed) so the test
    is deterministic; sizes are chosen to land splits mid-tag,
    mid-element, mid-attribute, and exactly ON '<' bytes."""
    import random

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        read_osm_elements_split,
    )

    a = read_osm_elements(spark, FIXTURE)
    key = lambda r: r["_id"]  # noqa: E731
    rows_a = sorted((r.asDict(recursive=True) for r in a.collect()), key=key)

    rng = random.Random(0xC0FFEE)
    fixture_bytes = os.path.getsize(FIXTURE)
    for _ in range(6):
        split_bytes = rng.randrange(16, fixture_bytes - 1)
        tail_bytes = rng.choice((4, 16, 128))
        b = read_osm_elements_split(
            spark,
            FIXTURE,
            split_bytes=split_bytes,
            tail_bytes=tail_bytes,
            chunk_bytes=rng.choice((32, 256, 4096)),
            batch_rows=rng.choice((2, 100)),
        )
        rows_b = sorted((r.asDict(recursive=True) for r in b.collect()), key=key)
        assert rows_b == rows_a, f"split_bytes={split_bytes} tail_bytes={tail_bytes}"


def test_open_range_percent_decoding(tmp_path):
    """The JVM reports paths percent-encoded; the local branch must
    decode exactly once.  A filename with a literal '%' (reported as
    '%25') is the regression case for double-decoding."""
    from urllib.parse import quote

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        _open_range,
    )

    for name in ("a b.xml", "p%x.xml", "q%20z.xml"):
        p = tmp_path / name
        p.write_bytes(b"<osm/>")
        uri = "file://" + quote(str(p))
        with _open_range(uri) as f:
            assert f.read() == b"<osm/>"


def test_split_reader_rejects_declared_non_utf8(spark, tmp_path):
    """A declared non-UTF-8 encoding (or a wide BOM) must fail fast
    under the split reader -- its slices discard the declaration, so
    proceeding would silently mis-decode.  UTF-8/ascii declarations
    (and no declaration) stay accepted."""
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.osm_xml import (
        _check_split_encoding,
        read_osm_elements_split,
    )

    body = '<osm><node id="1" lat="1.0" lon="2.0"/></osm>'
    bad = tmp_path / "latin1.osm"
    bad.write_bytes(
        ('<?xml version="1.0" encoding="ISO-8859-1"?>' + body).encode("latin-1")
    )
    df = read_osm_elements_split(spark, str(bad), split_bytes=16)
    with pytest.raises(Exception, match="ISO-8859-1|iterparse"):
        df.collect()

    ok = tmp_path / "utf8.osm"
    ok.write_bytes(('<?xml version="1.0" encoding="UTF-8"?>' + body).encode())
    assert read_osm_elements_split(spark, str(ok), split_bytes=16).count() == 1

    # Unit-level: wide BOM and undeclared-encoding heads.
    with pytest.raises(ValueError, match="BOM"):
        _check_split_encoding(b"\xfe\xff\x00<", "x")
    _check_split_encoding(b"<?xml version=\"1.0\"?><osm>", "x")
    _check_split_encoding(b"<osm>", "x")


def test_nest_subdocs_depth_beyond_oracle_and_conflicts(spark):
    """The f8 oracle pins depths <= 4; this covers the genuinely
    recursive cases past it -- a depth-5 chain and both conflict
    directions (leaf under leaf, leaf over subdoc), which must fail
    fast with the offending key named rather than the reference's
    bare AttributeError (clean_and_write.py:139)."""
    import json

    import pytest

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import (
        nest_subdocs_json,
    )

    def run(rows):
        df = spark.createDataFrame(rows, "id bigint, k string, v string")
        return nest_subdocs_json(df).collect()

    out = run(
        [
            (1, "a:b:c:d:e", "deep"),
            (1, "a:b:x", "mid"),
            (1, "a:top", "t"),
            (2, "a:b", "other-element"),
        ]
    )
    by = {(r["id"], r["root"]): r["subdoc"] for r in out}
    assert json.loads(by[(1, "a")]) == {
        "b": {"c": {"d": {"e": "deep"}}, "x": "mid"},
        "top": "t",
    }
    assert by[(1, "a")] == '{"b":{"c":{"d":{"e":"deep"}},"x":"mid"},"top":"t"}'
    assert json.loads(by[(2, "a")]) == {"b": "other-element"}

    with pytest.raises(Exception, match="conflict"):
        run([(1, "a:b", "leaf"), (1, "a:b:c", "deeper")])
    with pytest.raises(Exception, match="conflict"):
        run([(1, "a:b:c", "deeper"), (1, "a:b", "leaf")])


def test_nest_pairs_roundtrip_property():
    """Hypothesis roundtrip law for the recursive nester: for ANY
    prefix-conflict-free set of colon paths, flatten(nest(pairs))
    recovers exactly the input pairs -- nesting is lossless and
    addressability-preserving at arbitrary depth."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.shape import (
        nest_pairs,
    )

    seg = st.text(alphabet="abcd", min_size=1, max_size=3)
    path = st.lists(seg, min_size=1, max_size=5).map(":".join)

    def conflict_free(paths):
        pset = set(paths)
        for p in pset:
            parts = p.split(":")
            for i in range(1, len(parts)):
                if ":".join(parts[:i]) in pset:
                    return False
        return True

    pairs_strategy = (
        st.lists(path, min_size=1, max_size=12, unique=True)
        .filter(conflict_free)
        .map(lambda ps: [(p, f"v{i}") for i, p in enumerate(sorted(ps))])
    )

    def flatten(d, prefix=""):
        for k, v in d.items():
            key = f"{prefix}:{k}" if prefix else k
            if isinstance(v, dict):
                yield from flatten(v, key)
            else:
                yield (key, v)

    @settings(max_examples=200, deadline=None)
    @given(pairs_strategy)
    def check(pairs):
        assert sorted(flatten(nest_pairs(pairs))) == sorted(pairs)

    check()
