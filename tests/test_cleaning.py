"""Golden tests for the cleaning expression library.

Input/expected pairs come from the reference's own spot checks
(main.ipynb cell 17 phone goldens, cell 23 street goldens) and the
literal branch constants in clean_and_write.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_wrangling_osm_xml_with_python_into_mongodb_spark.functions import cleaning as C


def _apply1(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], ["v"])
    return [r[0] for r in df.select(fn(F.col("v")).alias("out")).collect()]


def _apply2(spark, fn, pairs):
    df = spark.createDataFrame(pairs, ["k", "v"])
    return [r[0] for r in df.select(fn(F.col("k"), F.col("v")).alias("out")).collect()]


def test_format_phone_goldens(spark):
    cases = {
        # main.ipynb cell 17 goldens
        "(360) 555-9999 ext. 1234": "+1-360-555-9999 x1234",
        "306-398-8300": "+1-360-398-8300",
        # already valid -> unchanged
        "+1-360-555-1234": "+1-360-555-1234",
        # 12 digits exactly: no extension, long hyphen tail (reference >12 rule)
        "360-555-12345": "+1-360-555-12345",
        # area-code typo behind country code
        "1 (306) 398-8300": "+1-360-398-8300",
    }
    outs = _apply1(spark, C.format_phone, list(cases))
    assert outs == list(cases.values())


def test_clean_street_goldens(spark):
    cases = {
        # main.ipynb cell 23 goldens
        "Ellis St. #215": "Ellis Street",
        "Guide Meridian": "Guide Meridian Road",
        "Meadowbrook Count": "Meadowbrook Court",
        "Cornwall Ave": "Cornwall Avenue",
        "Main Street": "Main Street",
        "Northwest Road3": "Northwest Road",
    }
    outs = _apply1(spark, C.clean_street_type, list(cases))
    assert outs == list(cases.values())
    units = _apply1(spark, C.split_unit_from_street, ["Ellis St. #215", "Main Street"])
    assert units == ["#215", None]


def test_clean_addr_parts(spark):
    assert _apply1(spark, C.clean_postcode, ["99248-1234", "98225-4321", "98225"]) == [
        "98248",
        "98225",
        "98225",
    ]
    assert _apply1(spark, C.clean_housename, ["Bellingham Towers LLC building"]) == [
        "Bellingham Towers Building"
    ]
    assert _apply1(spark, C.clean_addr_unit, ["Ave100", "Suite 4"]) == [
        "Avenue100",
        "Suite 4",
    ]


def test_bools_and_lists(spark):
    assert _apply1(spark, C.to_bool_or_null, ["yes", "Yes", "no", "designated"]) == [
        True,
        True,
        False,
        None,
    ]
    assert _apply1(spark, C.split_list_value, ["a;b ; c", "solo"]) == [
        ["a", "b", "c"],
        ["solo"],
    ]
    assert _apply1(spark, C.isin_set, ["USA, WA,Whatcom County", "a;b;a"]) == [
        ["USA", "WA", "Whatcom County"],
        ["a", "b"],
    ]


def test_misc_val_edits(spark):
    pairs = [
        ("shop", "Cannabis"),
        ("designation", "Some Words  Here"),
        ("denomination", "Non-denominational"),
        ("access", "privatem"),
        ("width", "10'"),
        ("office", "Whatcom_Educational_Credit_Union"),
        ("other", "Unchanged Value"),
    ]
    assert _apply2(spark, C.misc_val_edits, pairs) == [
        "cannabis",
        "some_words_here",
        "nondenominational",
        "private",
        "10 feet",
        "credit_union",
        "Unchanged Value",
    ]


def test_numeric_promotion(spark):
    assert _apply2(spark, C.to_int_value, [("ele", "3.7"), ("lanes", "2"), ("name", "2")]) == [
        3,
        2,
        None,
    ]
    outs = _apply2(
        spark,
        C.to_float_value,
        [
            ("building:levels", "3s"),
            ("maxheight", "4.5"),
            ("maxheight", "4'2\""),
            ("level", "1.5"),
            ("name", "1.5"),
        ],
    )
    assert outs == [3.0, 4.5, None, 1.5, None]


def test_numeric_promotion_garbage_is_null_under_ansi(spark):
    """A non-numeric value for a numeric key gives null, as the
    docstrings promise, instead of CAST_INVALID_INPUT under ANSI mode
    (Spark 4's default)."""
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        ints = [("lanes", "v1"), ("ele", "1e30"), ("lanes", "2")]
        assert _apply2(spark, C.to_int_value, ints) == [None, None, 2]
        floats = [("level", "abc"), ("maxheight", "tall"), ("level", "3.5")]
        assert _apply2(spark, C.to_float_value, floats) == [None, None, 3.5]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_rewrite_key(spark):
    cases = {
        "contact:phone": "phone",
        "name_1": "name",
        # reference strips ONLY when the last TWO chars are _<digit>
        # (SUBNUM_RE.search(k[-2:]), clean_and_write.py:15,294): a
        # multi-digit suffix is NOT stripped
        "name_12": "name_12",
        "image": "wikimedia_commons",
        "gnis:ST_alph": "gnis:ST_alpha",
        "tiger:cfcc": "tiger:cfcc",
        "maxspeed:type": "source:maxspeed",
        "reg_name": "name",
        "symbol": "wiki:symbol",
        "addr:street": "addr:street",
    }
    outs = _apply1(spark, C.rewrite_key, list(cases))
    assert outs == list(cases.values())


def test_problem_chars(spark):
    outs = _apply1(spark, C.has_problem_chars, ["bad key", "fine_key", "semi;colon"])
    assert outs == [True, False, True]


def test_audit_phone_goldens(spark):
    # main.ipynb:799-821 ex_audit_phone semantics: suspicious numbers
    # surface as their digit strings, acceptable 1*360 numbers vanish.
    cases = {
        "(360) 555-9999": [],                      # expected area code
        "306-398-8300": ["3063988300"],            # typo area code
        "253-555-1000": ["2535551000"],            # neighboring area code
        "+1-360-555-1234 x99": [],                 # ext stripped, then ok
        "555-12": ["55512"],                       # too short to trust
        "360-111-0001;306-222-0002": ["3062220002"],  # ;-list recursion
        # the literal 'x' in ' ext. ' truncates there, like the reference
        "(360) 555-9999 ext. 1234": [],
    }
    outs = _apply1(spark, C.audit_phone, list(cases))
    assert outs == list(cases.values())


def test_street_type_exception_goldens(spark):
    cases = {
        "North Garden Street": None,
        "North Garden Ave.": "Ave.",
        "Guide Meridian": "Meridian",
        "North Garden Hwy": "Hwy",
        "Meadow Lane": None,
    }
    outs = _apply1(spark, C.street_type_exception, list(cases))
    assert outs == list(cases.values())


def test_word_shingles_arrow_matches_hof(spark):
    """The Arrow shingle generator must be byte-identical to the
    Column-expression reference on every edge case: empty text, null,
    below-k token counts, repeated shingles, mixed whitespace runs,
    leading/trailing spaces, uppercase."""
    from pyspark.sql import functions as F

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.functions import text as TX

    rows = [
        (0, ""),
        (1, None),
        (2, "one"),
        (3, "two words"),
        (4, "exactly three tokens"),
        (5, "a b a b a b a b"),
        (6, "  leading and trailing  "),
        (7, "tab\tand\nnewline separated tokens here"),
        (8, "MiXeD CaSe TeXt MiXeD CaSe TeXt"),
        (9, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (2, 3, 5):
        a = df.select(
            "doc_id", TX.word_shingles(F.col("text"), k).alias("s")
        ).collect()
        b = df.select(
            "doc_id", TX.word_shingles_arrow(F.col("text"), k).alias("s")
        ).collect()
        got_a = {r["doc_id"]: r["s"] for r in a}
        got_b = {r["doc_id"]: r["s"] for r in b}
        assert got_a == got_b, f"k={k}: {got_a} != {got_b}"


def test_shingle_oracle_sql_matches_arrow_on_edge_corpus(spark, tmp_path):
    """_SHINGLES_SQL (the DuckDB tokenization every dedup oracle uses)
    must agree with word_shingles_arrow on the edge cases the bench
    corpus happens not to contain: <3-token docs (whole-text fallback
    shingle), tabs/newlines/double spaces (Java whitespace-class
    split), and empty text (ADVICE r8 latent-divergence fix)."""
    import duckdb

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.functions import text as TX
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.plans.queries_dedup import _SHINGLES_SQL

    rows = [
        (1, "one"),
        (2, "two tokens"),
        (3, "three tokens here"),
        (4, "tab\tseparated tokens here"),
        (5, "double  space tokens"),
        (6, "line\nbreak tokens here now"),
        (7, ""),
        (8, "  padded   with   spaces  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "edge_docs.parquet")
    docs.write.mode("overwrite").parquet(pq)

    got = sorted(
        (r["doc_id"], r["s"])
        for r in docs.select(
            "doc_id", F.explode(TX.word_shingles_arrow(F.col("text"))).alias("s")
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(_SHINGLES_SQL).fetchall()))
    assert got == want
