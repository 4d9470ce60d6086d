"""The OSM cleaning expression library.

Re-expresses the reference's per-record Python cleaning functions
(reference: clean_and_write.py:9-227 -- format_phone, clean_street_type,
audit_addr, get_isin_set, handle_list_keys, handle_bools,
misc_val_edits, key-rewrite rules) as pure ``Column -> Column``
native expressions: vectorized, codegen'd, no Python in the hot path.

Semantics are pinned by golden tests (tests/test_cleaning.py) using the
reference notebook's own input/expected pairs (main.ipynb cells 17, 23).

One documented deviation: the reference's ``format_phone`` returns ""
for inputs that already fully match ``+1-###-###-####``
(clean_and_write.py:97-111 initializes the result to "" and only
rebuilds on non-match); on its dataset no input was pre-formatted so
the branch never fired.  We return already-valid numbers unchanged,
which is the evident intent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- constant maps (reference clean_and_write.py:22-63) -------------------

PHONE_RE = r"\+1-\d{3}-\d{3}-\d{4}"

IS_IN_MAP: dict[str, list[str]] = {
    "is_in": ["USA", "WA", "Whatcom County", "Bellingham"],
    "is_in:country": ["USA"],
    "is_in:country_code": ["US"],
    "is_in:county": ["Whatcom"],
    "is_in:iso_3166_2": ["US:WA"],
    "is_in:state": ["WA"],
    "is_in:state_code": ["WA"],
}

CREATED_LST = ["version", "changeset", "timestamp", "user", "uid"]

STREET_TYPE_MAP: dict[str, str] = {
    "Ave": "Avenue", "Ave.": "Avenue", "Blvd": "Boulevard",
    "Bakerview": "Bakerview Road", "Count": "Court", "Dr": "Drive",
    "Forest": "Forest Street", "Hwy": "Highway", "Meridian": "Meridian Road",
    "Pkwy": "Parkway", "Rd": "Road", "Rd.": "Road", "Road3": "Road",
    "St": "Street", "St.": "Street", "Street,": "Street",
    "Street\\": "Street", "street": "Street",
}

WRONG_KEY_MAP: dict[str, str] = {
    "image": "wikimedia_commons",
    "maxspeed:type": "source:maxspeed",
    "reg_name": "name",
    "social_centre:for": "social_facility:for",
    "symbol": "wiki:symbol",
}

BOOL_TAGS_LST = ["fuel", "payment"]

TO_INT_LST = [
    "ele", "population", "quantity", "faces", "seats", "screen", "lanes",
    "max_level", "min_level", "cables", "beds", "changing_table:count",
    "hoops", "disabled_spaces", "par", "step_count", "handicap",
]

TO_FLOAT_LST = [
    "roof:levels", "level", "building:levels:underground", "levels",
    "roof:height", "maxheight", "building:levels",
]

SUBDIVIDE_LST = ["addr", "cost", "fire_hydrant", "fuel", "payment", "service", "wiki"]

LIST_KEYS = [
    "alt_name", "animal_boarding", "amenity", "artist_name",
    "bicycle:conditional", "building", "clothes", "cuisine", "destination",
    "destination:ref", "destination:ref:backward",
    "destination:symbol:backward", "destination:symbol:forward", "direction",
    "fax", "int_name", "name", "loc_name", "material", "maxweight",
    "maxweight:conditional", "motor_vehicle:conditional", "name_alt",
    "old_name", "old_railway_operator", "old_ref", "opening",
    "opening_hours", "phone", "postal_code", "seasonal", "shop",
    "short_name", "source", "sport", "turn", "turn:backward",
    "turn:forward", "turn:lanes", "turn:lanes:backward",
    "turn:lanes:forward", "website",
]



def _map_literal(mapping: dict[str, str]) -> Column:
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)


# --- F1: phone normalization (clean_and_write.py:97-111) ------------------

def _is_preformatted(num: Column) -> Column:
    """Exactly ``^\\+1-\\d{3}-\\d{3}-\\d{4}$`` without the regex engine
    (this predicate runs once per phone tag -- jstack showed the
    anchored rlike as measurable): 15 chars whose non-digit
    subsequence is exactly ``+---`` (translate deletes digits), with
    the four non-digits pinned at positions 1/3/7/11 and the country
    code ``1`` at position 2.  Any extra non-digit would lengthen the
    subsequence; any misplaced one fails a position test."""
    return (
        (F.length(num) == 15)
        & (F.substring(num, 1, 3) == "+1-")
        & (F.substring(num, 7, 1) == "-")
        & (F.substring(num, 11, 1) == "-")
        & (F.translate(num, "0123456789", "") == "+---")
    )


def format_phone(num: Column) -> Column:
    """Normalize to ``+1-AAA-NNN-NNNN[ xEXT]``.

    Non-matching inputs: strip non-digits; fix the ``306`` -> ``360``
    area-code typo (first occurrence, possibly behind leading 1s);
    ensure leading country code 1; digits beyond 11 become an
    ``x``-extension; hyphenate.
    """
    digits = F.regexp_replace(num, r"\D", "")
    # '^(1*)306' -> '$1360': anchored, so only the first occurrence.
    # Gated behind a byte-scan instr: numbers not containing '306'
    # anywhere (virtually all) never enter the regex engine.
    digits = F.when(
        (F.instr(digits, "306") > 0) & digits.rlike(r"^1*306"),
        F.regexp_replace(digits, r"^(1*)306", r"$1360"),
    ).otherwise(digits)
    digits = F.when(digits.startswith("1"), digits).otherwise(F.concat(F.lit("1"), digits))
    head = F.concat(
        F.lit("+"),
        F.substring(digits, 1, 1), F.lit("-"),
        F.substring(digits, 2, 3), F.lit("-"),
        F.substring(digits, 5, 3), F.lit("-"),
    )
    # Reference semantics: >12 digits -> ' x'-extension spliced in after
    # digit 11; otherwise the hyphenated tail takes ALL remaining digits.
    with_ext = F.concat(
        head, F.substring(digits, 8, 4), F.lit(" x"), F.substring(digits, 12, 2_000_000)
    )
    plain = F.concat(head, F.substring(digits, 8, 2_000_000))
    formatted = F.when(F.length(digits) > 12, with_ext).otherwise(plain)
    return F.when(_is_preformatted(num), num).otherwise(formatted)


# --- F11: phone area-code audit (main.ipynb:799-821 ex_audit_phone) -------

def audit_phone_single(num: Column) -> Column:
    """Flag one number whose area code does not look like ``1*360``:
    returns its digit string when suspicious, null when acceptable.

    Reference semantics exactly: truncate at the first literal ``x``
    (which also hits the 'x' in ' ext. ' -- so did the reference),
    strip non-digits, then accept iff >= 10 digits AND the FIRST FOUR
    digits match ``1*360`` (the reference applies the regex to
    ``num[:4]``, so at most one leading country-code 1)."""
    x_idx = F.instr(num, "x")
    trimmed = F.when(x_idx > 0, num.substr(F.lit(1), x_idx - 1)).otherwise(num)
    digits = F.regexp_replace(trimmed, r"\D", "")
    ok = (F.length(digits) >= 10) & F.substring(digits, 1, 4).rlike(r"^1*360")
    return F.when(~ok, digits)


def audit_phone(num: Column) -> Column:
    """The F11 audit with the reference's ``;``-list recursion: the
    array of suspicious digit strings among the list members (a value
    without ';' is a singleton list; the reference returns None/scalar
    there, which serializes the same once nulls are dropped)."""
    return F.filter(
        F.transform(F.split(num, ";"), audit_phone_single),
        lambda x: x.isNotNull(),
    )


# --- F12: street-type exception finder (main.ipynb:955-975) ---------------

ALLOWED_STREET_TYPES = [
    "Street", "Avenue", "Boulevard", "Drive", "Court", "Place",
    "Square", "Lane", "Road", "Trail", "Parkway", "Highway", "Way",
]


def street_type_exception(street: Column) -> Column:
    """The trailing token of a street value when it is NOT one of the
    acceptable street-type formats; null when conforming (the audit the
    reference runs to BUILD the STREET_TYPE_MAP)."""
    tok = F.element_at(F.split(street, r"\s+"), -1)
    return F.when(~tok.isin(*ALLOWED_STREET_TYPES), tok)


# --- F2: street-type normalization (clean_and_write.py:66-77) -------------

def split_unit_from_street(street: Column) -> Column:
    """The trailing ``#unit`` token, if any (reference pops it first)."""
    last = F.element_at(F.split(street, r"\s+"), -1)
    return F.when(last.contains("#"), last).otherwise(F.lit(None).cast("string"))


def clean_street_type(street: Column) -> Column:
    """Drop a trailing ``#unit`` token, then map the trailing street-type
    token through STREET_TYPE_MAP (``Ave.`` -> ``Avenue`` etc.)."""
    toks = F.split(street, r"\s+")
    last = F.element_at(toks, -1)
    toks = F.when(last.contains("#"), F.slice(toks, 1, F.size(toks) - 1)).otherwise(toks)
    last2 = F.element_at(toks, -1)
    mapped = _map_literal(STREET_TYPE_MAP)[last2]
    head = F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1))
    return F.when(
        mapped.isNotNull(), F.concat_ws(" ", head, mapped)
    ).otherwise(F.concat_ws(" ", toks))


# --- F3: addr dispatch (clean_and_write.py:80-94) -------------------------

def clean_addr_unit(v: Column) -> Column:
    """Expand a street-type abbreviation glued to the front of a unit."""
    prefix = F.substring(v, 1, 3)
    mapped = _map_literal(STREET_TYPE_MAP)[prefix]
    return F.when(
        mapped.isNotNull(), F.concat(mapped, F.substring(v, 4, 2_000_000))
    ).otherwise(v)


def clean_housename(v: Column) -> Column:
    """Title-case every word, dropping literal ``LLC`` tokens."""
    kept = F.filter(F.split(v, r"\s+"), lambda w: w != "LLC")
    return F.initcap(F.concat_ws(" ", kept))


def clean_postcode(v: Column) -> Column:
    """Truncate to 5 digits; fix the ``99248`` -> ``98248`` typo."""
    five = F.substring(v, 1, 5)
    return F.when(five == "99248", F.lit("98248")).otherwise(five)


def clean_addr_value(subkey: Column, v: Column) -> Column:
    """Per-subkey addr dispatch (street/unit/housename/postcode)."""
    return (
        F.when(subkey == "street", clean_street_type(v))
        .when(subkey == "unit", clean_addr_unit(v))
        .when(subkey == "housename", clean_housename(v))
        .when(subkey == "postcode", clean_postcode(v))
        .otherwise(v)
    )


# --- F4/F5: list splitting (clean_and_write.py:114-125, 168-179) ----------

def isin_set(v: Column) -> Column:
    """Split on ',' if present else ';', trim, dedup, sort."""
    parts = F.when(v.contains(","), F.split(v, ",")).otherwise(F.split(v, ";"))
    return F.array_sort(F.array_distinct(F.transform(parts, lambda x: F.trim(x))))


def split_list_value(v: Column) -> Column:
    """Semicolon-split with trim; singleton list when no separator."""
    return F.when(
        v.contains(";"), F.transform(F.split(v, ";"), lambda x: F.trim(x))
    ).otherwise(F.array(v))


# --- F6: boolean cast (clean_and_write.py:182-192) ------------------------

def to_bool_or_null(v: Column) -> Column:
    """'yes'/'no' (case-insensitive) -> true/false, else null.

    The reference keeps non-boolean strings as-is, creating a
    bool-or-string union field; in the typed model the parseable values
    promote to a boolean column and the raw string stays in the
    lossless ``tags`` map."""
    lv = F.lower(v)
    return (
        F.when(lv == "yes", F.lit(True))
        .when(lv == "no", F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


# --- F7: misc value edits (clean_and_write.py:195-227) --------------------

# Every branch of the reference's edit chain except `designation` is an
# exact (key, value) -> literal replacement (the two `shop` lower()
# branches included: their outputs are the constants below).  NUL-joined
# composite keys are unambiguous: no tag key or fixed value contains \x00.
_MISC_NUL = "\x00"
_MISC_FIX_MAP: dict[str, str] = {
    f"shop{_MISC_NUL}Cannabis": "cannabis",
    f"shop{_MISC_NUL}Parcel_Shipping": "parcel_shipping",
    f"inscription{_MISC_NUL}Inscriptions too long to input, see Description.":
        "Inscription's too long to input; see description.",
    f"denomination{_MISC_NUL}Non-denominational": "nondenominational",
    f"access{_MISC_NUL}privatem": "private",
    f"kerb{_MISC_NUL}rised": "rasied",
    f"width{_MISC_NUL}10'": "10 feet",
    f"office{_MISC_NUL}Whatcom_Educational_Credit_Union": "credit_union",
    # gnis value typo fix (clean_and_write.py:287) -- applies even
    # though gnis keys are protected from *key* rewrites.
    f"gnis:County_num{_MISC_NUL}73": "073",
}


def misc_val_edits(k: Column, v: Column) -> Column:
    """The reference's grab-bag of per-key literal fixes
    (string-valued; int/float promotion is separate).

    Shape matters here, not just semantics: as a 9-branch CaseWhen this
    expression pushed the fused ETL stage's generated consume() past
    HotSpot's 8000-bytecode JIT ceiling -- the whole stage dropped to
    interpreted bytecode and the dispatch pass ran 3x slow (measured
    1.55s -> 0.51s on the 77 MB bench corpus).  One literal-map lookup
    on a NUL-joined (k, v) composite generates ~constant code
    regardless of how many fixes the spec accrues; only `designation`
    (a value-transforming rule, not a literal replacement) keeps a
    branch.  Branch order vs the reference is immaterial: no fix key
    collides with `designation`."""
    fixed = _map_literal(_MISC_FIX_MAP)[F.concat(k, F.lit(_MISC_NUL), v)]
    return F.coalesce(
        fixed,
        F.when(
            k == "designation", F.regexp_replace(F.lower(F.trim(v)), r"\s+", "_")
        ).otherwise(v),
    )


def isin_map_value(k: Column) -> Column:
    """IS_IN_MAP constant replacement (clean_and_write.py:216-217): the
    reference overwrites the value of ``is_in`` and the known ``is_in:*``
    keys with dataset constants (list-valued), regardless of the raw
    value.  Returns null for keys outside IS_IN_MAP."""
    expr = None
    for key, vals in IS_IN_MAP.items():
        arr = F.array(*[F.lit(x) for x in vals])
        expr = F.when(k == key, arr) if expr is None else expr.when(k == key, arr)
    return expr.otherwise(F.lit(None).cast("array<string>"))


def to_int_value(k: Column, v: Column) -> Column:
    """int(float(v)) for TO_INT_LST keys, null otherwise/on garbage.
    ``try_cast``, not ``cast``: under ANSI mode (Spark 4's default) a
    non-numeric value such as ``lanes=v1`` would abort the job."""
    return F.when(
        k.isin(*TO_INT_LST), v.try_cast("double").try_cast("long")
    ).otherwise(F.lit(None).cast("long"))


def to_float_value(k: Column, v: Column) -> Column:
    """float(v) for TO_FLOAT_LST keys with the reference's guards:
    '3s' -> 3.0 for building:levels; skip values containing quotes
    (feet/inch notation) for maxheight.  Garbage gives null
    (``try_cast``, as in :func:`to_int_value`)."""
    guarded = (
        F.when((k == "building:levels") & (v == "3s"), F.lit(3.0))
        .when(
            (k == "maxheight") & ~(v.contains('"') | v.contains("'")),
            v.try_cast("double"),
        )
        .when(k == "maxheight", F.lit(None).cast("double"))
        .otherwise(v.try_cast("double"))
    )
    return F.when(k.isin(*TO_FLOAT_LST), guarded).otherwise(F.lit(None).cast("double"))


# --- F9: key rewrites (clean_and_write.py:15, 42-45, 285-299) -------------

def rewrite_key(k: Column) -> Column:
    """Key normalization: gnis typo fix; keep tiger/gnis/nist verbatim;
    strip deprecated ``contact:`` prefix; strip ``_N`` suffix; rename
    through WRONG_KEY_MAP.

    Hot path (runs once per tag): regex-free -- prefix/suffix tests are
    ``startswith``/``substring`` and the root extraction is
    ``substring_index``, which scan the UTF8 bytes directly instead of
    entering the regex engine (measured material ETL win)."""
    protected = F.substring_index(k, ":", 1).isin("tiger", "gnis", "nist")
    k1 = F.when(k == "gnis:ST_alph", F.lit("gnis:ST_alpha")).otherwise(k)
    stripped = F.when(
        k1.startswith("contact:"), F.substring(k1, len("contact:") + 1, 2_000_000)
    ).otherwise(k1)
    last2 = F.substring(stripped, -2, 2)
    stripped = F.when(
        (F.length(stripped) >= 2)
        & (F.substring(last2, 1, 1) == "_")
        & F.substring(last2, 2, 1).isin(*"0123456789"),
        stripped.substr(F.lit(1), F.length(stripped) - 2),
    ).otherwise(stripped)
    mapped = _map_literal(WRONG_KEY_MAP)[stripped]
    rewritten = F.coalesce(mapped, stripped)
    return F.when(protected, k1).otherwise(rewritten)


_PROBLEMCHARS = "=+/&<>;'\"?%#$@,. \t\r\n"


def has_problem_chars(k: Column) -> Column:
    """Tag keys containing problem characters are dropped
    (clean_and_write.py:14,283).  ``translate`` (single byte scan)
    instead of a regex char-class search -- same semantics, hot path."""
    return F.length(F.translate(k, _PROBLEMCHARS, "")) != F.length(k)
