"""OSM XML ingestion.

The reference streams one 77 MB file through ``ET.iterparse``
(clean_and_write.py:425, osm_structure_audit.py:49).  The production
path here is :func:`materialize_raw`: parse the XML exactly ONCE
(matching the reference's single iterparse stream) into a bronze
RAW_ELEMENT_SCHEMA parquet table bucketed by element id, then run
everything downstream columnar and exchange-free.

One production reader and one oracle twin:

* :func:`read_osm_elements_split` -- the reader :func:`materialize_raw`
  runs: a byte-range-splittable streaming parse.  The driver plans
  (file, offset, length) splits exactly like ``FileSourceScanExec``
  does for parquet, each task seeks to its offset, resyncs to the next
  top-level element boundary, and parses just its range.  Genuinely
  single-pass AND split-parallel: per-task memory is bounded by
  ``split_bytes`` (not file size) and a single huge file fans out
  across the cluster.  When no file exceeds one split it parses whole
  files instead (:func:`_read_whole_files`), which skips the range
  machinery's fixed costs.
* :func:`read_osm_elements` -- Spark's built-in XML source, one scan
  per rowTag (node/way/relation): the test oracle every parse path is
  checked against.  It reads the same bytes three times, so it stays
  off the production path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..schema import RAW_ELEMENT_SCHEMA

_CREATED_ATTRS = ["version", "changeset", "timestamp", "user", "uid"]

# A top-level OSM element start tag.  In well-formed XML a raw '<'
# appears only in markup (attribute values escape it as &lt;), and
# node/way/relation never nest inside each other, so any match is a
# true element boundary.  The trailing [\s/>] guard keeps '<nd ' from
# matching '<node'-seeking scans and vice versa.  (Caveat shared with
# Hadoop's XmlInputFormat: a '<node' lookalike inside a comment/CDATA
# would false-sync; OSM extracts contain neither.)
_TOP_ELEMENT_RE = re.compile(rb"<(?:node|way|relation)[\s/>]")

# XML declaration encoding sniff for the split reader: split slices are
# re-wrapped in a synthetic <osm> root, discarding the file's own
# declaration, so expat decodes them as UTF-8 unconditionally.  OSM
# extracts are UTF-8 by spec; a file DECLARING anything else (or
# carrying a UTF-16/32 BOM) must fail fast here rather than silently
# mis-decode -- route such inputs through the rowTag reader, which sees
# the declaration.
_ENC_DECL_RE = re.compile(
    rb"^\xef?\xbb?\xbf?\s*<\?xml[^>]*?encoding\s*=\s*[\"']([A-Za-z0-9._-]+)[\"']"
)
_UTF8_COMPATIBLE = {"utf-8", "utf8", "us-ascii", "ascii"}
_WIDE_BOMS = (b"\x00\x00\xfe\xff", b"\xff\xfe\x00\x00", b"\xfe\xff", b"\xff\xfe")


def _check_split_encoding(head: bytes, fpath: str) -> None:
    """Fail fast on non-UTF-8 input under the split reader (see
    _ENC_DECL_RE).  Called by the task that owns a file's first split,
    on bytes it has already read -- zero extra I/O, and exactly one
    check per file regardless of split count."""
    for bom in _WIDE_BOMS:
        if head.startswith(bom):
            raise ValueError(
                f"read_osm_elements_split: {fpath} has a UTF-16/32 BOM; "
                "split slices assume UTF-8 -- use "
                "the rowTag reader (read_osm_elements)"
            )
    m = _ENC_DECL_RE.match(head)
    if m:
        enc = m.group(1).decode("ascii")
        if enc.lower() not in _UTF8_COMPATIBLE:
            raise ValueError(
                f"read_osm_elements_split: {fpath} declares "
                f"encoding={enc}; split slices assume UTF-8 -- use "
                "the rowTag reader (read_osm_elements)"
            )


def _xml_schema(kind: str) -> T.StructType:
    """Explicit per-rowTag read schema: skips the XML source's
    schema-inference pass (one full extra scan per entity kind)."""
    fields = [
        T.StructField("_id", T.StringType()),
        *[T.StructField(f"_{a}", T.StringType()) for a in _CREATED_ATTRS],
        T.StructField(
            "tag",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("_k", T.StringType()),
                        T.StructField("_v", T.StringType()),
                    ]
                )
            ),
        ),
    ]
    if kind == "node":
        fields += [
            T.StructField("_lat", T.DoubleType()),
            T.StructField("_lon", T.DoubleType()),
        ]
    if kind == "way":
        fields.append(
            T.StructField(
                "nd",
                T.ArrayType(T.StructType([T.StructField("_ref", T.StringType())])),
            )
        )
    if kind == "relation":
        fields.append(
            T.StructField(
                "member",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("_type", T.StringType()),
                            T.StructField("_ref", T.StringType()),
                            T.StructField("_role", T.StringType()),
                        ]
                    )
                ),
            )
        )
    return T.StructType(fields)


def _attr(df: DataFrame, name: str) -> F.Column:
    """XML attributes surface as ``_name`` columns; tolerate absence."""
    col = f"_{name}"
    return F.col(col) if col in df.columns else F.lit(None)


def _created_struct(df: DataFrame) -> F.Column:
    return F.struct(
        *[_attr(df, a).cast("string").alias(a) for a in _CREATED_ATTRS]
    ).alias("created")


def _tags_array(df: DataFrame) -> F.Column:
    if "tag" not in df.columns:
        return F.lit(None).cast("array<struct<k:string,v:string>>").alias("tags")
    # Single sub-element parses as struct, repeated as array: normalize.
    dtype = dict(df.dtypes)["tag"]
    col = F.col("tag") if dtype.startswith("array") else F.array(F.col("tag"))
    return F.transform(
        col,
        lambda t: F.struct(
            t["_k"].cast("string").alias("k"), t["_v"].cast("string").alias("v")
        ),
    ).alias("tags")


def read_osm_elements(spark: SparkSession, path: str) -> DataFrame:
    """Read an OSM XML file into the unioned RAW_ELEMENT_SCHEMA frame."""
    frames: list[DataFrame] = []
    for kind in ("node", "way", "relation"):
        raw = (
            spark.read.format("xml")
            .option("rowTag", kind)
            .option("attributePrefix", "_")
            .schema(_xml_schema(kind))
            .load(path)
        )
        cols = [
            F.lit(kind).alias("doc_type"),
            _attr(raw, "id").cast("string").alias("_id"),
            (_attr(raw, "lat").cast("double") if kind == "node" else F.lit(None).cast("double")).alias("lat"),
            (_attr(raw, "lon").cast("double") if kind == "node" else F.lit(None).cast("double")).alias("lon"),
            _created_struct(raw),
        ]
        if kind == "way" and "nd" in raw.columns:
            nd_dtype = dict(raw.dtypes)["nd"]
            nd = F.col("nd") if nd_dtype.startswith("array") else F.array(F.col("nd"))
            cols.append(
                F.transform(nd, lambda x: x["_ref"].cast("string")).alias("nds")
            )
        else:
            cols.append(F.lit(None).cast("array<string>").alias("nds"))
        if kind == "relation" and "member" in raw.columns:
            m_dtype = dict(raw.dtypes)["member"]
            mem = (
                F.col("member")
                if m_dtype.startswith("array")
                else F.array(F.col("member"))
            )
            cols.append(
                F.transform(
                    mem,
                    lambda m: F.struct(
                        m["_type"].cast("string").alias("type"),
                        m["_ref"].cast("string").alias("ref"),
                        m["_role"].cast("string").alias("role"),
                    ),
                ).alias("members")
            )
        else:
            cols.append(
                F.lit(None).cast("array<struct<type:string,ref:string,role:string>>").alias("members")
            )
        cols.append(_tags_array(raw))
        frames.append(raw.select(*cols))

    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _expat_batches(chunks, batch_rows: int):
    """Streaming expat parse of an iterable of byte chunks, yielding
    Arrow RecordBatches in RAW_ELEMENT_SCHEMA column order.

    The shared executor-side core behind both single-pass readers.
    The row path never touches Python objects per field: expat
    callbacks append to flat columnar buffers (child values + list
    offsets), which become Arrow List/Struct arrays zero-copy-ish via
    ``from_arrays`` -- measured ~10% faster than the earlier
    pandas/ElementTree variant.  Chunk boundaries may land anywhere
    (expat tolerates arbitrary splits, including mid-tag and
    mid-multibyte-char); flushes happen between chunks, never
    mid-element -- in-flight state lives in ``cur_*``.
    """
    import xml.parsers.expat

    import pyarrow as pa

    str_t = pa.string()
    names = [f.name for f in RAW_ELEMENT_SCHEMA.fields]

    # Columnar buffers holding COMPLETED elements only.
    kinds, ids, lats, lons = [], [], [], []
    created = [[] for _ in _CREATED_ATTRS]
    nd_off, nd_vals, nd_valid = [0], [], []
    m_off, m_type, m_ref, m_role, m_valid = [0], [], [], [], []
    t_off, t_k, t_v, t_valid = [0], [], [], []
    # In-flight element (a row only reaches the buffers at its end tag).
    cur_kind = [None]
    cur_attrs = [None]
    cur_nds: list = []
    cur_mem: list = []
    cur_tags: list = []

    def on_start(name, a):
        if name in ("node", "way", "relation"):
            cur_kind[0] = name
            cur_attrs[0] = a
            cur_nds.clear()
            cur_mem.clear()
            cur_tags.clear()
        elif cur_kind[0] is not None:
            if name == "tag":
                cur_tags.append((a.get("k"), a.get("v")))
            elif name == "nd":
                cur_nds.append(a.get("ref"))
            elif name == "member":
                cur_mem.append((a.get("type"), a.get("ref"), a.get("role")))

    def on_end(name):
        kind = cur_kind[0]
        if name != kind:
            return
        a = cur_attrs[0]
        kinds.append(kind)
        ids.append(a.get("id"))
        lats.append(float(a["lat"]) if "lat" in a else None)
        lons.append(float(a["lon"]) if "lon" in a else None)
        for i, c in enumerate(_CREATED_ATTRS):
            created[i].append(a.get(c))
        nd_vals.extend(cur_nds)
        nd_off.append(len(nd_vals))
        nd_valid.append(kind == "way")
        for mt, mr, ml in cur_mem:
            m_type.append(mt)
            m_ref.append(mr)
            m_role.append(ml)
        m_off.append(len(m_type))
        m_valid.append(kind == "relation")
        for tk, tv in cur_tags:
            t_k.append(tk)
            t_v.append(tv)
        t_off.append(len(t_k))
        t_valid.append(bool(cur_tags))
        cur_kind[0] = None

    def list_arr(off, children, valid):
        arr = pa.ListArray.from_arrays(pa.array(off, pa.int32()), children)
        mask = pa.array(valid, pa.bool_())
        return pa.compute.if_else(mask, arr, pa.nulls(len(valid), arr.type))

    def flush():
        batch = pa.record_batch(
            [
                pa.array(kinds, str_t),
                pa.array(ids, str_t),
                pa.array(lats, pa.float64()),
                pa.array(lons, pa.float64()),
                pa.StructArray.from_arrays(
                    [pa.array(c, str_t) for c in created],
                    names=_CREATED_ATTRS,
                ),
                list_arr(nd_off, pa.array(nd_vals, str_t), nd_valid),
                list_arr(
                    m_off,
                    pa.StructArray.from_arrays(
                        [
                            pa.array(m_type, str_t),
                            pa.array(m_ref, str_t),
                            pa.array(m_role, str_t),
                        ],
                        names=["type", "ref", "role"],
                    ),
                    m_valid,
                ),
                list_arr(
                    t_off,
                    pa.StructArray.from_arrays(
                        [pa.array(t_k, str_t), pa.array(t_v, str_t)],
                        names=["k", "v"],
                    ),
                    t_valid,
                ),
            ],
            names=names,
        )
        kinds.clear(); ids.clear(); lats.clear(); lons.clear()
        for c in created:
            c.clear()
        del nd_off[1:]; nd_vals.clear(); nd_valid.clear()
        del m_off[1:]; m_type.clear(); m_ref.clear(); m_role.clear()
        m_valid.clear()
        del t_off[1:]; t_k.clear(); t_v.clear(); t_valid.clear()
        nd_off[0] = m_off[0] = t_off[0] = 0
        return batch

    p = xml.parsers.expat.ParserCreate()
    p.StartElementHandler = on_start
    p.EndElementHandler = on_end
    for chunk in chunks:
        p.Parse(chunk, False)
        if len(kinds) >= batch_rows:
            yield flush()
    p.Parse(b"", True)
    if kinds:
        yield flush()


# Entity replacement order matters only for &amp;: it must run LAST so
# '&amp;lt;' decodes to '&lt;' (one level), never to '<'.
_XML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&")]
_HDR_ATTRS = ["id", "lat", "lon", *_CREATED_ATTRS]


class _Bail(Exception):
    """Internal fast-path bail signal -> caller falls back to expat."""


# Strict whole-line grammar for the fast path: one complete tag whose
# attribute VALUES contain no '='.  That exclusion is what makes the
# later independent per-attribute first-match extraction provably
# correct: the extraction pattern `[ \t]attr="` contains an '=', so it
# can never match starting inside a value.  (Without it,
# <node user="x id=" id="2"/> would extract _id=' id=' -- silent
# corruption on valid XML.)  Valid-XML lines with '=' inside a value
# simply fail the grammar and take the expat path, preserving the
# bit-equal-or-bail contract.  No capture group: match_substring_regex
# is ~5x cheaper than extract_regex here (measured).
# Three explicit alternatives -- declaration '<?name ...?>', open or
# empty element '<name ...>' / '<name .../>', close tag '</name>' with
# NO attributes -- so the leading and trailing markers cannot mix:
# '<node ...?>' and '</node id="1">' are malformed XML that expat
# rejects loudly, and a grammar with independent optional '[/?]' at
# both ends would silently accept the first and silently skip the
# second, breaking loud-failure parity with the expat path.
_FASTPATH_ATTRS = r'(?:[ \t]+[A-Za-z_][\w.:-]*="[^"=]*")*'
_FASTPATH_TAG_RE = (
    r'^(?:'
    r'<\?[A-Za-z_][\w.:-]*' + _FASTPATH_ATTRS + r'[ \t]*\?>'
    r'|'
    r'<[A-Za-z_][\w.:-]*' + _FASTPATH_ATTRS + r'[ \t]*/?>'
    r'|'
    r'</[A-Za-z_][\w.:-]*[ \t]*>'
    r')$'
)
# Tag NAME for exact-match classification (so '<osmium .../>' is a
# bail, not an '<osm' prefix-match skip).
_FASTPATH_NAME_RE = r'^<(?P<n>[/?]?[A-Za-z_][\w.:-]*)'
_FASTPATH_SKIP_NAMES = (
    "?xml", "osm", "/osm", "bounds", "/bounds", "/node", "/way", "/relation"
)


def _vector_batches(data: bytes, batch_rows: int):
    """Vectorized fast-path parse of one slice: every pass is a C
    kernel (pyarrow line split / prefix classification / RE2 attribute
    extraction, numpy cumsum assembly) -- measured several times the
    per-core throughput of the expat path, which pays a Python
    callback per tag.

    Returns ``None`` whenever the slice is not PROVABLY parseable by
    line-oriented rules, and the caller falls back to expat -- the
    output is bit-equal where the fast path engages (differential
    pytest + the 37-byte split tests run both).  Bail-out conditions,
    checked vectorized:

    * comments / CDATA / processing text anywhere (could hide tags);
    * numeric character references (``&#``) or single-quoted
      attributes (``='``) -- the extraction grammar covers neither;
    * any ``&`` not beginning one of the five predefined entities
      (expat fails loudly on undefined entities; so must we);
    * any non-blank line that is not exactly one complete ``<...>``
      tag matching ``_FASTPATH_TAG_RE`` (multi-line tags, two tags on
      a line, stray text, '=' inside an attribute value -- see the
      grammar's docstring for why that exclusion is load-bearing);
    * any line whose tag NAME (exact match, not prefix) is not one of
      the known node/way/relation/tag/nd/member/skip names;
    * any element line whose attributes are not EXACTLY a dup-free
      subset of the known names (proved by comparing the line's
      ``="`` count against the extraction presence sum) -- catches
      both unknown attrs (expat ignores them; conservative bail) and
      duplicates (expat raises ``duplicate attribute``; silent
      keep-first would diverge).  Skip lines' attrs stay unchecked,
      matching expat's indifference to them;
    * a child line before the first element header;
    * lat/lon strings Arrow cannot cast to float64.

    XML semantics preserved: attribute-value normalization (tab/CR ->
    space) and the five predefined entities are applied to every
    extracted string, gated on the bytes actually occurring in the
    slice.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if b"<!--" in data or b"<![CDATA[" in data or b"&#" in data or b"='" in data:
        return None
    try:
        text = data.decode("utf-8")
    except UnicodeDecodeError:
        return None
    if "&" in text:
        # Every '&' must begin a predefined entity -- expat errors on
        # anything else, and silence here would mask invalid input.
        probe = text
        for ent, _ch in _XML_ENTITIES:
            probe = probe.replace(ent, "")
        if "&" in probe:
            return None

    lines = pc.list_flatten(
        pc.split_pattern(pa.array([text], pa.string()), pattern="\n")
    )
    lt = pc.utf8_trim_whitespace(lines)
    n = len(lt)
    if n == 0:
        return []

    blank = pc.fill_null(
        pc.equal(pc.utf8_length(lt), 0), True
    ).to_numpy(zero_copy_only=False)
    one_tag = pc.fill_null(
        pc.less_equal(pc.count_substring(lt, pattern="<"), 1), False
    ).to_numpy(zero_copy_only=False)
    grammar_ok = pc.fill_null(
        pc.match_substring_regex(lt, pattern=_FASTPATH_TAG_RE), False
    ).to_numpy(zero_copy_only=False)
    tag_names = pc.struct_field(
        pc.extract_regex(lt, pattern=_FASTPATH_NAME_RE), "n"
    )

    def name_is(nm: str):
        return pc.fill_null(pc.equal(tag_names, nm), False).to_numpy(
            zero_copy_only=False
        )

    m_node, m_way, m_rel = name_is("node"), name_is("way"), name_is("relation")
    m_tag, m_nd, m_mem = name_is("tag"), name_is("nd"), name_is("member")
    m_skip = np.zeros(n, dtype=bool)
    for nm in _FASTPATH_SKIP_NAMES:
        m_skip |= name_is(nm)
    classified = m_node | m_way | m_rel | m_tag | m_nd | m_mem | m_skip
    if not bool(np.all(blank | (classified & grammar_ok & one_tag))):
        return None

    header = m_node | m_way | m_rel
    n_elem = int(header.sum())
    if n_elem == 0:
        return []
    elem_idx = np.cumsum(header) - 1
    child = m_tag | m_nd | m_mem
    if bool(np.any(child & (elem_idx < 0))):
        return None

    need_entities = "&" in text
    need_ws_norm = ("\t" in text) or ("\r" in text)

    def clean(col):
        """Attr-value normalization + entity decode, pass-gated."""
        if need_ws_norm:
            col = pc.replace_substring(col, pattern="\t", replacement=" ")
            col = pc.replace_substring(col, pattern="\r", replacement=" ")
        if need_entities:
            for ent, ch in _XML_ENTITIES:
                col = pc.replace_substring(col, pattern=ent, replacement=ch)
        return col

    def extract_all(subset, attrs):
        """Extract ``attrs`` from one line class, proving along the way
        that each line's attributes are EXACTLY a subset of the known
        names with no duplicates: the grammar bans '=' inside values,
        so every ``="`` in a line is one real attribute -- the per-line
        total must equal the number of distinct known attrs present
        (first-match extraction non-null).  An unknown attr name OR a
        duplicate makes the total exceed the presence sum -> bail to
        expat (which ignores unknown attrs but RAISES on duplicates;
        bailing keeps both behaviors exact at the cost of one plain
        substring count per subset).  The leading [ \\t] separator
        disambiguates id= from uid=.
        """
        if len(subset) == 0:
            return {a: pa.nulls(0, pa.string()) for a in attrs}
        total = pc.count_substring(subset, pattern='="').to_numpy(
            zero_copy_only=False
        )
        present = np.zeros(len(subset), dtype=np.int64)
        cols = {}
        for a in attrs:
            ex = pc.struct_field(
                pc.extract_regex(subset, pattern=f'[ \t]{a}="(?P<v>[^"]*)"'),
                "v",
            )
            present += pc.is_valid(ex).to_numpy(zero_copy_only=False)
            cols[a] = clean(ex)
        if bool(np.any(total != present)):
            raise _Bail
        return cols

    hdr_lines = pc.filter(lt, pa.array(header))
    try:
        hdr_cols = extract_all(hdr_lines, _HDR_ATTRS)
        lat = pc.cast(hdr_cols["lat"], pa.float64())
        lon = pc.cast(hdr_cols["lon"], pa.float64())
    except (_Bail, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None

    hdr_pos = np.flatnonzero(header)
    kinds = pa.array(
        np.select(
            [m_node[hdr_pos], m_way[hdr_pos]], ["node", "way"], "relation"
        )
    ).cast(pa.string())
    is_way = m_way[hdr_pos]
    is_rel = m_rel[hdr_pos]

    def child_arrays(mask, attrs):
        pos = np.flatnonzero(mask)
        parents = elem_idx[pos]
        # Document order makes parents non-decreasing by construction;
        # anything else means the classification went wrong.
        if len(parents) and bool(np.any(np.diff(parents) < 0)):
            return None
        sub = pc.filter(lt, pa.array(mask))
        col_map = extract_all(sub, attrs)
        cols = [col_map[a] for a in attrs]
        counts = np.bincount(parents, minlength=n_elem) if len(parents) else np.zeros(n_elem, dtype=np.int64)
        offsets = np.zeros(n_elem + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        return cols, offsets, counts

    try:
        got = child_arrays(m_nd, ["ref"])
        if got is None:
            return None
        (nd_ref,), nd_off, _ = got
        got = child_arrays(m_mem, ["type", "ref", "role"])
        if got is None:
            return None
        (mm_type, mm_ref, mm_role), m_off, _ = got
        got = child_arrays(m_tag, ["k", "v"])
        if got is None:
            return None
        (t_k, t_v), t_off, t_counts = got
    except _Bail:
        return None

    def list_arr(off, children, valid):
        arr = pa.ListArray.from_arrays(pa.array(off, pa.int32()), children)
        mask = pa.array(valid, pa.bool_())
        return pc.if_else(mask, arr, pa.nulls(len(valid), arr.type))

    rb = pa.record_batch(
        [
            kinds,
            hdr_cols["id"],
            lat,
            lon,
            pa.StructArray.from_arrays(
                [hdr_cols[a] for a in _CREATED_ATTRS], names=_CREATED_ATTRS
            ),
            list_arr(nd_off, nd_ref, is_way),
            list_arr(
                m_off,
                pa.StructArray.from_arrays(
                    [mm_type, mm_ref, mm_role], names=["type", "ref", "role"]
                ),
                is_rel,
            ),
            list_arr(t_off, pa.StructArray.from_arrays(
                [t_k, t_v], names=["k", "v"]
            ), t_counts > 0),
        ],
        names=[f.name for f in RAW_ELEMENT_SCHEMA.fields],
    )
    return [rb.slice(i, batch_rows) for i in range(0, n_elem, batch_rows)]


def _parse_slice(
    data: bytes, batch_rows: int, chunk_bytes: int, wrap: bool, counters=None
):
    """One element-aligned slice -> RecordBatches: the vectorized fast
    path when it proves itself applicable, the streaming expat parse
    otherwise (identical output either way -- differential-tested).
    ``wrap`` adds the synthetic ``<osm>`` root the expat fallback needs
    for mid-file slices; whole files carry their own root (and possibly
    an XML declaration, which must stay first) so they pass False.
    The vector path needs no root either way -- it classifies and
    skips declaration/root lines.

    ``counters``: optional ``{"vector_bytes": Accumulator,
    "expat_bytes": Accumulator}`` -- each slice adds its byte count to
    whichever path actually parsed it, so the bench can report the
    fast path's real engagement fraction instead of an offline claim.
    """
    batches = _vector_batches(data, batch_rows)
    if batches is not None:
        if counters is not None:
            counters["vector_bytes"] += len(data)
        yield from batches
        return
    if counters is not None:
        counters["expat_bytes"] += len(data)

    def feed():
        if wrap:
            yield b"<osm>"
        for pos in range(0, len(data), chunk_bytes):
            yield data[pos : pos + chunk_bytes]
        if wrap:
            yield b"</osm>"

    yield from _expat_batches(feed(), batch_rows)


# The split reader's target byte range per task -- the same 128 MB as
# Spark's own ``spark.sql.files.maxPartitionBytes`` default.
# :func:`materialize_raw` sizes the bronze bucket count by it too.
_SPLIT_BYTES = 128 << 20


def plan_osm_splits(
    spark: SparkSession, path: str, split_bytes: int
) -> list[tuple[str, int, int, int]]:
    """Driver-side split planning: (path, start, length, file_size)
    rows, one per byte range.

    This is the same O(number-of-files) metadata-only work Spark's own
    ``FileSourceScanExec`` does when planning a parquet scan -- the
    ``binaryFile`` read prunes down to the (path, length) metadata
    columns, so no content bytes move.
    """
    meta = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "length")
        .collect()
    )
    splits: list[tuple[str, int, int, int]] = []
    for row in meta:
        size = int(row["length"])
        if size == 0:
            continue
        start = 0
        while start < size:
            splits.append(
                (row["path"], start, min(split_bytes, size - start), size)
            )
            start += split_bytes
    return splits


def _open_range(path: str):
    """Open a file URI for random-access reads via pyarrow.fs -- the
    same abstraction on local disk, HDFS, and S3.

    ``binaryFile`` reports Hadoop scheme spellings (``s3a://``,
    ``s3n://``) that pyarrow's ``FileSystem.from_uri`` does not
    recognize; map them to ``s3`` before resolution.  Decoding split:
    the local branch never passes through a URI parser that decodes,
    so it unquotes the JVM's percent-encoding itself;
    ``FileSystem.from_uri`` already percent-decodes the path it
    returns (``file:///tmp/a%20b`` -> ``/tmp/a b``), so unquoting that
    again would corrupt keys containing a literal ``%`` (encoded
    ``%25``).
    """
    from urllib.parse import unquote, urlparse

    import pyarrow.fs as pafs

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        return pafs.LocalFileSystem().open_input_file(unquote(parsed.path))
    if parsed.scheme in ("s3a", "s3n"):
        parsed = parsed._replace(scheme="s3")
    fs, relpath = pafs.FileSystem.from_uri(parsed.geturl())
    return fs.open_input_file(relpath)


def read_osm_elements_split(
    spark: SparkSession,
    path: str,
    split_bytes: int = _SPLIT_BYTES,
    batch_rows: int = 50_000,
    chunk_bytes: int = 4 << 20,
    tail_bytes: int = 1 << 20,
    counters=None,
) -> DataFrame:
    """Single-pass, byte-range-SPLITTABLE scan: the driver plans
    (file, offset, length) ranges; each task seeks to its offset,
    resyncs forward to the next top-level element start tag, and
    parses exactly the elements whose start tag falls inside its
    range (reading past the range end only to finish the last owned
    element).

    Encoding: split slices discard the file's XML declaration (each
    task wraps its slice in a synthetic ``<osm>`` root), so expat
    assumes UTF-8.  OSM extracts are UTF-8 by spec; a file DECLARING
    another encoding (or carrying a UTF-16/32 BOM) FAILS FAST: the
    task owning each file's first split sniffs the declaration
    (``_check_split_encoding``) and raises with a pointer to the
    rowTag reader, which does honor declarations.  This
    caveat shares a paragraph with the comment/CDATA false-sync one on
    ``_TOP_ELEMENT_RE``.

    This removes the file-granularity bound of a whole-file parse
    (:func:`_read_whole_files`): per-task memory is
    ~``split_bytes`` regardless of file layout, and a single 100 GB
    file fans out across ``size/split_bytes`` tasks instead of
    serializing on one.  It keeps the single-pass I/O profile (each
    input byte is read once, plus a ~1 element overlap per boundary)
    -- the reference's own streaming promise (clean_and_write.py:425)
    made cluster-true.

    Ownership protocol (no coordination between tasks): an element
    belongs to the split containing its start tag's byte offset.  A
    task scans from its offset to the first `<node|way|relation`
    boundary >= offset, and parses through to the first boundary >=
    range end (extending its read in ``tail_bytes`` steps -- an
    element spans a boundary at most once, so neighbors never
    double-count and none is skipped).  Each task wraps its slice in
    a synthetic ``<osm>`` root, so expat sees a well-formed document;
    slices always cut at ASCII '<', never mid-multibyte-char.
    """
    return _read_splits(
        spark, path, plan_osm_splits(spark, path, split_bytes),
        batch_rows=batch_rows, chunk_bytes=chunk_bytes,
        tail_bytes=tail_bytes, counters=counters,
    )


def _read_splits(
    spark: SparkSession,
    path: str,
    splits: list[tuple[str, int, int, int]],
    batch_rows: int = 50_000,
    chunk_bytes: int = 4 << 20,
    tail_bytes: int = 1 << 20,
    counters=None,
) -> DataFrame:
    """:func:`read_osm_elements_split` over a split plan already built
    by :func:`plan_osm_splits` (:func:`materialize_raw` also sizes its
    buckets from that plan, so the input is listed once)."""
    if not splits:
        return spark.createDataFrame([], RAW_ELEMENT_SCHEMA)
    # Layout dispatch: when every planned split covers a whole file
    # (no file exceeds split_bytes), the byte-range machinery buys
    # nothing -- ownership, resync, and tail extension are all no-ops
    # -- while still paying its fixed costs (a driver metadata job, a
    # split-row shuffle, Python-side open/seek per file instead of the
    # JVM's binaryFile read).  Measured on the 77 MB / 32-shard bench
    # input that overhead is ~1.7x wall (PERF.md), so the
    # many-small-files layout takes the file-granular single-pass path;
    # any file larger than split_bytes engages the range path it
    # exists for.
    if all(start == 0 and nbytes == size for _, start, nbytes, size in splits):
        return _read_whole_files(
            spark, path, len(splits), batch_rows=batch_rows,
            chunk_bytes=chunk_bytes, counters=counters,
        )
    # One task per split up to 4x the cluster's core count; past that,
    # tasks consume several split rows sequentially (per-task memory
    # stays bounded by ONE split at a time -- rows stream through
    # mapInArrow).  Uncapped, a 100 TB extract at 128 MB splits would
    # round-robin ~800k single-row tasks through the scheduler.
    n_parts = min(len(splits), spark.sparkContext.defaultParallelism * 4)
    sdf = spark.createDataFrame(
        splits, "path string, start long, nbytes long, size long"
    ).repartition(n_parts)

    def parse(batches):
        for rb in batches:
            for i in range(rb.num_rows):
                fpath = rb.column(0)[i].as_py()
                start = rb.column(1)[i].as_py()
                nbytes = rb.column(2)[i].as_py()
                size = rb.column(3)[i].as_py()

                f = _open_range(fpath)
                try:
                    if start == 0:
                        # One tiny head read per FILE (smaller than any
                        # split), so the declaration is seen whole even
                        # when the first split is narrower than it.
                        _check_split_encoding(f.read(min(256, size)), fpath)
                        f.seek(0)
                    else:
                        f.seek(start)
                    buf = f.read(nbytes)
                    eof = start + len(buf) >= size
                    # Find the cut: first top-level boundary at or past
                    # the range end.  Extend the read until found or
                    # EOF; resume scans 16 bytes back so a tag spanning
                    # an extension boundary still matches.
                    end_rel = nbytes
                    scan_from = end_rel
                    m1 = None
                    while True:
                        m1 = _TOP_ELEMENT_RE.search(buf, scan_from)
                        if m1 is not None or eof:
                            break
                        scan_from = max(end_rel, len(buf) - 16)
                        more = f.read(tail_bytes)
                        if not more:
                            eof = True
                        buf += more
                finally:
                    f.close()

                # First owned element: first boundary inside [0, end_rel).
                m0 = _TOP_ELEMENT_RE.search(buf)
                if m0 is None or m0.start() >= end_rel:
                    continue  # no element starts in this range
                hi = m1.start() if m1 is not None else len(buf)
                data = buf[m0.start() : hi]
                if m1 is None:
                    # EOF slice: drop the trailing root close tag.
                    root_close = data.rfind(b"</osm")
                    if root_close != -1:
                        data = data[:root_close]

                yield from _parse_slice(
                    data, batch_rows, chunk_bytes, wrap=True, counters=counters
                )

    return sdf.mapInArrow(parse, RAW_ELEMENT_SCHEMA)


def _read_whole_files(
    spark: SparkSession,
    path: str,
    n_files: int,
    batch_rows: int = 50_000,
    chunk_bytes: int = 4 << 20,
    counters=None,
) -> DataFrame:
    """:func:`read_osm_elements_split`'s branch for inputs whose every
    file fits one split: a single-pass parse of each whole file via
    ``mapInArrow`` over ``binaryFile`` rows.  ``n_files`` is the split
    plan's file count; fewer files than cores spread one per task."""
    files = spark.read.format("binaryFile").load(path).select("content")
    if n_files < spark.sparkContext.defaultParallelism:
        files = files.repartition(max(n_files, 1))

    def parse(batches):
        for rb in batches:
            for content_scalar in rb.column(0):
                content = content_scalar.as_py()
                yield from _parse_slice(
                    content, batch_rows, chunk_bytes, wrap=False,
                    counters=counters,
                )

    return files.mapInArrow(parse, RAW_ELEMENT_SCHEMA)


def _bronze_buckets(
    xml_bytes: int, split_bytes: int, parallelism: int, max_buckets: int
) -> int:
    """The bronze bucket count for ``xml_bytes`` of XML: one bucket per
    ``split_bytes`` (rounded up) and at least one per core
    (``parallelism``), capped at ``max_buckets`` -- Spark's own
    file-split sizing rule with ``defaultParallelism`` as the floor."""
    return min(max(parallelism, -(-xml_bytes // split_bytes)), max_buckets)


def materialize_raw(
    spark: SparkSession,
    xml_path: str,
    out_path: str,
    table: str = "osm_raw_bronze",
    buckets: int | None = None,
    counters=None,
) -> DataFrame:
    """One-time raw-ingest materialization: OSM XML -> bronze parquet
    bucketed by ``_id``.  Returns the bronze table's DataFrame.

    This is the scale architecture (it closes the 3x read
    amplification of calling :func:`read_osm_elements` per downstream
    job): the XML bytes are parsed exactly once -- the reference's own
    shape, one iterparse stream (clean_and_write.py:425) -- written as
    columnar RAW_ELEMENT_SCHEMA parquet (~12x smaller than the XML,
    measured 8.6 MB bronze from a 101 MB extract), and every
    downstream job reads the bronze with column pruning instead of
    re-parsing XML.

    The bucketed-by-``_id`` layout is the second half of the design:
    ``shape_documents``' per-element re-aggregation and any id-keyed
    join satisfy their ClusteredDistribution straight off the scan, so
    the hot ETL stage runs with ZERO Exchange (asserted in
    tests/test_osm_pipeline.py).  ``repartition(buckets, _id)`` before
    the write uses the same murmur3 hash as the bucket spec, so each
    write task holds exactly one bucket -> one file per bucket, no
    small-file explosion.

    Bucket count: an explicit ``buckets`` is used as given.  ``None``
    derives it from the input (:func:`_bronze_buckets`): one bucket per
    128 MB of XML (the split reader's ``split_bytes``), at least
    ``sparkContext.defaultParallelism``, at most
    ``spark.sql.sources.bucketing.maxBuckets``.  Every bucket-wide stage
    downstream runs one task per bucket, so a small input on few cores
    gets one wave per stage instead of many near-empty ones (PERF.md,
    round-10 addendum).  The byte count comes from the reader's own
    split plan, so sizing costs no extra job.

    The parse is :func:`read_osm_elements_split`; ``counters`` passes
    through to it (see :func:`_parse_slice`).  Bucketed metadata lives
    in the session catalog (``saveAsTable``); on a real cluster this is
    the Hive/Unity metastore and the layout amortizes across every
    downstream job.
    """
    splits = plan_osm_splits(spark, xml_path, _SPLIT_BYTES)
    if buckets is None:
        buckets = _bronze_buckets(
            sum(nbytes for _, _, nbytes, _ in splits),
            _SPLIT_BYTES,
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.sources.bucketing.maxBuckets")),
        )
    raw = _read_splits(spark, xml_path, splits, counters=counters)
    (
        raw.repartition(buckets, "_id")
        .write.mode("overwrite")
        .bucketBy(buckets, "_id")
        .sortBy("_id")
        .option("path", out_path)
        .saveAsTable(table)
    )
    # Re-materializing replaces the files under the same table name;
    # invalidate the cached file listing so plans built against the
    # previous bronze re-resolve instead of failing on deleted parts.
    spark.catalog.refreshTable(table)
    return spark.table(table)
