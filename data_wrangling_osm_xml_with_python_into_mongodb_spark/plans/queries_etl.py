"""Oracle-gated end-to-end OSM ETL audit.

The reference's core capability is the XML -> cleaned-documents ETL
(clean_and_write.py:230-381).  This module puts that pipeline under the
hard correctness signal: a deterministic raw-elements parquet fixture
(tools/gen_osm_fixture_parquet.py, committed at
tests/fixtures/osm_raw.parquet) is shaped with the REAL pipeline
(:func:`shape_documents` + :func:`validity_predicate`) and summarized
into per-doc_type audit aggregates; the DuckDB oracle RE-IMPLEMENTS the
cleaning semantics (phone formatting clean_and_write.py:97-111, street
type mapping :66-77, int promotion :218-226, list splitting :168-179,
validation :358-379) in independent pure SQL over the same parquet, so
a deviation anywhere in the expression tree breaks the value hash.

The fixture is SF-independent on purpose (the ETL is a fixed input ->
fixed output audit, not a scan of the benchmark tables): the callable
ignores ``sf_dir``.

Scale: the Spark side is the production path -- one XML/parquet scan,
flat cleaning expressions, one hash aggregation keyed by _id, then a
6-row groupBy(doc_type); nothing here is fixture-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.shape import shape_documents, validity_predicate
from ..schema import RAW_ELEMENT_SCHEMA
from .queries import register

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
FIXTURE_PARQUET = os.path.join(_REPO_ROOT, "tests", "fixtures", "osm_raw.parquet")

_ETL_ORACLE = rf"""
WITH raw AS (
  SELECT * FROM read_parquet('{FIXTURE_PARQUET}')
), ext AS (
  -- [-1]: duplicate SCALAR tag keys resolve keep-LAST, the
  -- reference's dict update; the fixture plants dup 'lanes' rows
  -- whose last value < max, so this index is load-bearing for
  -- sum_lanes.  (List keys -- phone/amenity -- EXTEND under dups;
  -- the fixture keeps those dup-free so either index reads the one
  -- tag.)  street is scalar within the addr subdoc: keep-last.
  SELECT doc_type, lat, lon, nds, members, created,
         list_filter(tags, x -> x.k = 'lanes')[-1].v       AS lanes_raw,
         list_filter(tags, x -> x.k = 'phone')[-1].v       AS phone_raw,
         list_filter(tags, x -> x.k = 'addr:street')[-1].v AS street_raw,
         list_filter(tags, x -> x.k = 'amenity')[-1].v     AS amenity_raw
  FROM raw
), ph1 AS (  -- format_phone (clean_and_write.py:97-111), re-derived
  SELECT *, regexp_replace(phone_raw, '\D', '', 'g') AS d0 FROM ext
), ph2 AS (
  SELECT *, CASE WHEN regexp_matches(d0, '^1*306')
                 THEN regexp_replace(d0, '^(1*)306', '\1360')
                 ELSE d0 END AS d1 FROM ph1
), ph3 AS (
  SELECT *, CASE WHEN d1 LIKE '1%' THEN d1 ELSE '1' || d1 END AS d2 FROM ph2
), ph4 AS (
  SELECT *,
    CASE WHEN phone_raw IS NULL THEN NULL
         WHEN regexp_full_match(phone_raw, '\+1-\d{3}-\d{3}-\d{4}') THEN phone_raw
         WHEN length(d2) > 12 THEN
           '+' || substr(d2,1,1) || '-' || substr(d2,2,3) || '-' ||
           substr(d2,5,3) || '-' || substr(d2,8,4) || ' x' || substr(d2,12)
         ELSE
           '+' || substr(d2,1,1) || '-' || substr(d2,2,3) || '-' ||
           substr(d2,5,3) || '-' || substr(d2,8)
    END AS phone_fmt
  FROM ph3
), st1 AS (  -- clean_street_type (clean_and_write.py:66-77), re-derived
  SELECT *, string_split(street_raw, ' ') AS stoks FROM ph4
), st2 AS (
  SELECT *, stoks[len(stoks)] AS last_tok FROM st1
), st3 AS (
  SELECT *,
    CASE last_tok
      WHEN 'Ave' THEN 'Avenue' WHEN 'Ave.' THEN 'Avenue'
      WHEN 'Blvd' THEN 'Boulevard' WHEN 'Bakerview' THEN 'Bakerview Road'
      WHEN 'Count' THEN 'Court' WHEN 'Dr' THEN 'Drive'
      WHEN 'Forest' THEN 'Forest Street' WHEN 'Hwy' THEN 'Highway'
      WHEN 'Meridian' THEN 'Meridian Road' WHEN 'Pkwy' THEN 'Parkway'
      WHEN 'Rd' THEN 'Road' WHEN 'Rd.' THEN 'Road' WHEN 'Road3' THEN 'Road'
      WHEN 'St' THEN 'Street' WHEN 'St.' THEN 'Street'
      WHEN 'Street,' THEN 'Street' WHEN 'street' THEN 'Street'
      ELSE NULL END AS type_mapped
  FROM st2
), st4 AS (
  SELECT *,
    CASE WHEN street_raw IS NULL THEN NULL
         WHEN type_mapped IS NOT NULL THEN
           CASE WHEN len(stoks) > 1
                THEN array_to_string(list_slice(stoks, 1, len(stoks)-1), ' ')
                     || ' ' || type_mapped
                ELSE type_mapped END
         ELSE street_raw END AS street_clean
  FROM st3
)
SELECT doc_type,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE  -- validation (clean_and_write.py:358-379)
         (doc_type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL
          AND nds IS NULL AND members IS NULL)
         OR (doc_type = 'way' AND nds IS NOT NULL AND members IS NULL)
         OR (doc_type = 'relation' AND members IS NOT NULL AND nds IS NULL)
       ) AS BIGINT) AS n_valid,
       CAST(count(*) FILTER (WHERE lat IS NOT NULL AND lon IS NOT NULL)
            AS BIGINT) AS n_pos,
       CAST(sum(CAST(CAST(lanes_raw AS DOUBLE) AS BIGINT)) AS BIGINT) AS sum_lanes,
       CAST(sum(length(phone_fmt)) AS BIGINT) AS sum_phone_len,
       CAST(count(DISTINCT phone_fmt) AS BIGINT) AS n_phones,
       coalesce(array_to_string(list_sort(list(DISTINCT street_clean)), '|'), '')
         AS streets,
       CAST(count(*) FILTER (WHERE contains(stoks[len(stoks)], '#'))
            AS BIGINT) AS n_units,
       CAST(sum(len(list_distinct(nds))) AS BIGINT) AS sum_refs,
       CAST(sum(len(members)) AS BIGINT) AS sum_members,
       CAST(count(DISTINCT created."user") AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN amenity_raw IS NULL THEN NULL
                ELSE len(string_split(amenity_raw, ';')) END) AS BIGINT)
         AS sum_amenities
FROM st4
GROUP BY doc_type
"""


@register(
    "etl_osm_document_audit",
    "End-to-end OSM ETL under the oracle: shape_documents + validation "
    "over the committed raw-elements fixture, per-doc_type cleaning "
    "aggregates; the DuckDB side re-implements phone/street/int/list/"
    "validation semantics independently (clean_and_write.py:230-381).",
    _ETL_ORACLE,
    tags=("etl", "osm", "flagship"),
)
def q_etl_osm_document_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw)
    phone0 = F.element_at(F.col("phone"), 1)
    return docs.groupBy("doc_type").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(validity_predicate().cast("long")).alias("n_valid"),
        F.count("pos").alias("n_pos"),
        F.sum("lanes").alias("sum_lanes"),
        F.sum(F.length(phone0)).cast("long").alias("sum_phone_len"),
        F.count_distinct(phone0).alias("n_phones"),
        F.concat_ws(
            "|", F.sort_array(F.collect_set(F.col("addr")["street"]))
        ).alias("streets"),
        F.sum(
            F.when(F.col("addr")["unit"].isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_units"),
        F.sum(F.size("node_refs")).cast("long").alias("sum_refs"),
        F.sum(F.size("members")).cast("long").alias("sum_members"),
        F.count_distinct(F.col("created")["user"]).alias("n_users"),
        F.sum(F.size("amenity")).cast("long").alias("sum_amenities"),
    )


_MM_ORACLE = r"""
WITH d AS (
  SELECT doc_id, md5(text) AS h,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind
  FROM documents WHERE doc_id < 200
),
p AS (
  SELECT doc_id, kind,
         list_transform(range(0, 16), i ->
           (strpos('0123456789abcdef', substr(h, 2*i+1, 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(h, 2*i+2, 1)) - 1)) AS dig
  FROM d
)
SELECT doc_id AS media_id, kind,
       CAST(128 AS INT) AS n_bytes,
       CAST(8 * list_sum(dig) AS BIGINT) AS byte_sum,
       CAST(dig[1] AS INT) AS first_byte,
       CAST(dig[16] AS INT) AS last_byte
FROM p
"""


@register(
    "mm1_media_byte_stats",
    "Multimodal binary-column plumbing under the oracle: synthesize "
    "128-byte payloads (repeated md5-of-text digest) as a binary media "
    "table, push them through the Arrow mapInPandas byte-stats audit, "
    "and have DuckDB recompute every stat from the md5 hex digits "
    "(functions/multimodal.py; decode itself stays a documented stub).",
    _MM_ORACLE,
    tags=("multimodal", "audit"),
)
def q_media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import media_byte_stats, synth_media
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    kind = (
        F.when(F.col("media_id") % 3 == 0, "image")
        .when(F.col("media_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    media = synth_media(docs).withColumn("kind", kind)
    return media_byte_stats(media)


_MM2_ORACLE = r"""
SELECT doc_id AS media_id,
       CAST(ceil((doc_id % 10 + 1) / 2.0) AS INT) AS n_sampled,
       array_to_string(
         list_transform(range(0, CAST(doc_id % 10 + 1 AS INT), 2),
                        x -> CAST(x AS VARCHAR)), '|') AS sampled_idx
FROM documents WHERE doc_id < 200
"""


@register(
    "mm2_frame_sampling",
    "Multimodal frame-sampling plumbing under the oracle: every-2nd-"
    "frame sampling of the synthetic video table runs through the "
    "Arrow mapInPandas row fan-out (functions/multimodal.sample_frames) "
    "and DuckDB independently re-derives the kept indices and counts "
    "from the metadata rule; the per-frame feature arithmetic stays "
    "pytest-pinned (test_multimodal.py).",
    _MM2_ORACLE,
    tags=("multimodal", "explode"),
)
def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import sample_frames, synth_media
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    frames = sample_frames(synth_media(docs, kind="video"), every_k=2)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_sampled"),
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(F.collect_list("frame_idx")),
                lambda x: x.cast("string"),
            ),
        ).alias("sampled_idx"),
    )


# The oracle predicts pixel statistics WITHOUT decoding: payload pixels
# are md5(text) repeated exactly 8x to fill 16x8, so per-image mean/min/
# max over 128 pixels equal those over the 16 digest bytes, derivable
# from the md5 hex digits alone.  Spark meanwhile round-trips a genuine
# scanline-filtered zlib-compressed PNG through the stdlib codec -- a
# mismatch in encoder, decoder, filter reconstruction, or Arrow binary
# plumbing shows up as a value-hash diff.
_MM3_ORACLE = r"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 200),
p AS (
  SELECT doc_id,
         list_transform(range(0, 16), i ->
           (strpos('0123456789abcdef', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(h, CAST(2*i+2 AS INT), 1)) - 1)) AS dig
  FROM d
)
SELECT doc_id AS media_id,
       CAST(16 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       round(list_sum(dig) / 16.0, 4) AS mean_byte,
       CAST(list_min(dig) AS INT) AS min_byte,
       CAST(list_max(dig) AS INT) AS max_byte
FROM p
"""


@register(
    "mm3_png_decode_stats",
    "REAL image decode under the oracle: each document becomes a "
    "genuine PNG (pixels = repeated md5-of-text digest; scanline filter "
    "rotates through all five types), Spark decodes it with the "
    "dependency-free stdlib codec (functions/png.py) inside an Arrow "
    "mapInPandas stage, and DuckDB independently predicts every pixel "
    "statistic from the md5 hex digits -- end-to-end proof the decode "
    "path is real, not plumbing around a stub.",
    _MM3_ORACLE,
    tags=("multimodal", "decode"),
)
def q_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import png_decode_stats, synth_png_media
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return png_decode_stats(synth_png_media(docs))


# Each doc -> a 32x16 grayscale baseline JPEG of eight CONSTANT 8x8
# blocks, block b's value = digest byte b.  Constant blocks round-trip
# the lossy pipeline EXACTLY under the uniform-8 quant table (DC =
# 8*(v-128) is divisible by 8; ACs quantize to 0 -- functions/jpeg.py
# module docstring), so DuckDB predicts the decoded pixels while Spark
# runs the full Huffman+DCT decode for real.  Per-pixel stats weight
# every block equally (64 px each), so mean = sum(bytes)/8.
_MM4_ORACLE = r"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 200),
p AS (
  SELECT doc_id,
         list_transform(range(0, 8), i ->
           (strpos('0123456789abcdef', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(h, CAST(2*i+2 AS INT), 1)) - 1)) AS dig
  FROM d
)
SELECT doc_id AS media_id,
       CAST(32 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       round(list_sum(dig) / 8.0, 4) AS mean_byte,
       CAST(list_min(dig) AS INT) AS min_byte,
       CAST(list_max(dig) AS INT) AS max_byte
FROM p
"""


@register(
    "mm4_jpeg_decode_stats",
    "REAL lossy-format decode under the oracle: each document becomes "
    "a genuine baseline JPEG (ITU T.81 markers, Annex K Huffman "
    "tables, zigzag+DCT entropy coding), Spark decodes it with the "
    "dependency-free stdlib codec (functions/jpeg.py) inside an Arrow "
    "mapInPandas stage, and DuckDB independently predicts every pixel "
    "statistic from the md5 hex digits -- exactness engineered via "
    "quantization-exact constant blocks, so lossy-compression "
    "machinery runs under an exact oracle.",
    _MM4_ORACLE,
    tags=("multimodal", "decode"),
)
def q_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import png_decode_stats, synth_jpeg_media
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # png_decode_stats dispatches on magic bytes (decode_media), so the
    # same stats stage serves both native codecs.
    return png_decode_stats(synth_jpeg_media(docs))


# 16 digest bytes tiled 64x -> 1024 samples; tiling preserves the
# per-byte weighting, so amplitude stats reduce to digest-byte stats.
_MM5_ORACLE = r"""
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 200),
p AS (
  SELECT doc_id,
         list_transform(range(0, 16), i ->
           (strpos('0123456789abcdef', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16 +
           (strpos('0123456789abcdef', substr(h, CAST(2*i+2 AS INT), 1)) - 1)) AS dig
  FROM d
)
SELECT doc_id AS media_id,
       CAST(1024 AS INT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       round(list_sum(dig) / 16.0, 4) AS mean_amp,
       CAST(list_min(dig) AS INT) AS min_amp,
       CAST(list_max(dig) AS INT) AS max_amp
FROM p
"""


@register(
    "mm5_wav_decode_stats",
    "REAL audio decode under the oracle: each document becomes a "
    "genuine 8-bit PCM RIFF/WAV (stdlib codec, functions/audio.py), "
    "Spark decodes container + samples inside an Arrow mapInPandas "
    "stage, and DuckDB independently predicts every amplitude "
    "statistic from the md5 hex digits -- the image technique (mm3 "
    "PNG, mm4 JPEG) completing the multimodal set with audio.",
    _MM5_ORACLE,
    tags=("multimodal", "decode", "audio"),
)
def q_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import synth_wav_media, wav_decode_stats
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return wav_decode_stats(synth_wav_media(docs))


_TAG_PROFILE_ORACLE = f"""
WITH kv AS (
  SELECT t.k AS k, t.v AS v
  FROM (SELECT unnest(tags) AS t
        FROM read_parquet('{FIXTURE_PARQUET}')
        WHERE tags IS NOT NULL)
), sample AS (  -- min-by-md5 top-20: the bounded rank-based sample
  SELECT k, list_sort(list(v)) AS vs
  FROM (
    SELECT k, v,
           row_number() OVER (PARTITION BY k ORDER BY md5(v), v) AS rn
    FROM (SELECT DISTINCT k, v FROM kv WHERE v IS NOT NULL)
  )
  WHERE rn <= 20
  GROUP BY k
)
SELECT c.k AS k,
       count_all AS tag_use_count,
       uniq_count,
       array_to_string(coalesce(vs, []), '|') AS val_sample,
       CASE WHEN uniq_count > 0
            THEN round(count_all::DOUBLE / uniq_count, 2)
       END AS usage_per_uniq
FROM (
  SELECT k, count(*) AS count_all,
         CAST(count(DISTINCT v) AS BIGINT) AS uniq_count
  FROM kv GROUP BY k
) c LEFT JOIN sample ON c.k = sample.k
"""


@register(
    "a7_osm_tag_profile",
    "The reference's tag-structure profile over the OSM fixture "
    "(osm_structure_audit.py:65-82 / A7): per tag key, use count, "
    "exact distinct count, bounded min-by-md5 value sample (rank-"
    "selected, so no agg buffer exceeds the cap -- the memory hazard "
    "the reference's author flags at osm_structure_audit.py:15-18), "
    "usage ratio; DuckDB reproduces the md5 rank rule bit-for-bit.",
    _TAG_PROFILE_ORACLE,
    tags=("profile", "osm", "agg"),
)
def q_osm_tag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_tags

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    prof = profile_tags(raw, value_sample_cap=20)
    # Serialize the sampled array (sorted, so deterministic) for the
    # driver's pandas canonicalizer.
    return prof.select(
        "k",
        "tag_use_count",
        "uniq_count",
        F.concat_ws("|", F.col("val_sample")).alias("val_sample"),
        "usage_per_uniq",
    )


_REF_DOCS_ORACLE = rf"""
WITH raw AS (
  SELECT * FROM read_parquet('{FIXTURE_PARQUET}')
),
way_refs AS (
  SELECT _id AS src, unnest(list_distinct(nds)) AS ref
  FROM raw WHERE doc_type = 'way'
),
rel_refs AS (
  SELECT _id AS src, m.ref AS ref
  FROM (SELECT _id, unnest(members) AS m FROM raw WHERE doc_type = 'relation')
),
refs AS (
  SELECT src, ref FROM way_refs WHERE ref IS NOT NULL
  UNION ALL
  SELECT src, ref FROM rel_refs WHERE ref IS NOT NULL
)
SELECT ref AS _id,
       array_to_string(list_sort(list(src))[1:100], '|') AS refers,
       count(*) AS refer_count
FROM refs
GROUP BY ref
"""


@register(
    "m6_osm_ref_docs",
    "The reference's ref_docs materialized view in its NATIVE form "
    "(mongo_audit.py:271-329 write_ref_docs): per referenced OSM id, "
    "the posting list of referencing way/relation ids CAPPED at the "
    "100 rank-smallest (bounded agg buffer; exact cardinality kept in "
    "refer_count), built by operators/shape.build_ref_docs(cap=100) "
    "over the shaped fixture; the oracle re-derives it from the raw "
    "nds/members arrays.",
    _REF_DOCS_ORACLE,
    tags=("mview", "osm", "agg"),
)
def q_osm_ref_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.shape import build_ref_docs

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    ref = build_ref_docs(shape_documents(raw), cap=100)
    return ref.select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.col("refer_count").cast("long").alias("refer_count"),
    )


_M9_ORACLE = rf"""
WITH raw AS (
  SELECT * FROM read_parquet('{FIXTURE_PARQUET}')
),
final AS (  -- (base - deletes) + inserts == the post-batch corpus
  SELECT * FROM raw
  WHERE CAST(_id AS BIGINT) % 7 = 0                -- the insert batch
     OR (CAST(_id AS BIGINT) % 7 <> 0
         AND CAST(_id AS BIGINT) % 11 <> 0)        -- base minus deletes
),
way_refs AS (
  SELECT _id AS src, unnest(list_distinct(nds)) AS ref
  FROM final WHERE doc_type = 'way'
),
rel_refs AS (
  SELECT _id AS src, m.ref AS ref
  FROM (SELECT _id, unnest(members) AS m FROM final WHERE doc_type = 'relation')
),
refs AS (
  SELECT src, ref FROM way_refs WHERE ref IS NOT NULL
  UNION ALL
  SELECT src, ref FROM rel_refs WHERE ref IS NOT NULL
)
SELECT ref AS _id,
       array_to_string(list_sort(list(src)), '|') AS refers,
       count(*) AS refer_count
FROM refs
GROUP BY ref
"""


@register(
    "m9_ref_docs_incremental",
    "Incremental maintenance of the m6 ref_docs materialized view "
    "(the reference drop-and-recreates it, mongo_audit.py:271-329): "
    "an element batch -- inserts (_id % 7 = 0, held out of the base "
    "build) and deletes (_id % 11 = 0 of the base) -- is applied to "
    "the persisted uncapped index via the dd12 anti/semi idiom: "
    "untouched postings pass through a broadcast anti-join verbatim, "
    "only refs the batch mentions are rewritten (duplicate-preserving "
    "filter + concat + sort), and the historical corpus is never "
    "rescanned.  Oracle: a full rebuild over (base - deletes) + "
    "inserts must match exactly.",
    _M9_ORACLE,
    tags=("mview", "incremental", "osm"),
)
def q_ref_docs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/shape.apply_ref_docs_delta does the maintenance; this
    query stages base/batch off the fixture (in production the 'old'
    index is a table read -- here it is built inline once, and the
    delta path provably touches only it plus the batch docs)."""
    from ..operators.shape import apply_ref_docs_delta, build_ref_docs

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw)
    id_l = F.col("_id").cast("long")
    base = docs.filter(id_l % 7 != 0)
    inserted = docs.filter(id_l % 7 == 0)
    deleted = base.filter(id_l % 11 == 0)
    old_index = build_ref_docs(base)  # uncapped: (_id, refers)
    new_index = apply_ref_docs_delta(old_index, inserted, deleted)
    return new_index.select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.size("refers").cast("long").alias("refer_count"),
    )


@register(
    "m11_ref_docs_cow_maintenance",
    "The incremental ref_docs maintenance applied to MUTABLE storage: "
    "ref_docs_delta_changes emits (upserts, emptied-posting delete "
    "keys) for the m9 batch, and a CowTable MERGE (copy-on-write "
    "commit log, Delta-mechanism without the jar) applies them -- "
    "only files containing touched refs are rewritten, untouched "
    "files carry into the new snapshot by reference, and emptied "
    "postings are removed via whenMatchedDelete semantics.  Closes "
    "the O(index) output cost of the full-output form "
    "(apply_ref_docs_delta).  "
    "Oracle: reading the post-merge table must equal a full rebuild "
    "over (base - deletes) + inserts.",
    _M9_ORACLE,
    tags=("mview", "incremental", "osm", "sink"),
)
def q_ref_docs_cow_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-state staging (CowTable.create of the base index)
    is test scaffolding like m9's inline rebuild; the maintenance path
    is ref_docs_delta_changes + CowTable.merge(deletes=...)."""
    import atexit
    import shutil
    import tempfile

    from ..operators.shape import build_ref_docs, ref_docs_delta_changes
    from ..sources.cow_table import CowTable

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw)
    id_l = F.col("_id").cast("long")
    base = docs.filter(id_l % 7 != 0)
    inserted = docs.filter(id_l % 7 == 0)
    deleted = base.filter(id_l % 11 == 0)
    old_index = build_ref_docs(base)
    work = tempfile.mkdtemp(prefix="m11_cow_")
    # The returned DataFrame reads this table lazily, so the staging
    # cannot be removed before the caller consumes it -- but repeated
    # correctness/bench invocations must not accumulate tables under
    # /tmp either; at-exit cleanup is the safe middle.
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    table = CowTable.create(
        spark, f"{work}/ref_docs", old_index.repartition(8, "_id")
    )
    ups, dels = ref_docs_delta_changes(table.read(), inserted, deleted)
    table.merge(ups, "_id", deletes=dels)
    return table.read().select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.size("refers").cast("long").alias("refer_count"),
    )


_M10_ORACLE = rf"""
WITH raw AS (
  SELECT * FROM read_parquet('{FIXTURE_PARQUET}')
),
final AS (  -- (base - deletes) + inserts == the post-batch corpus
  SELECT * FROM raw
  WHERE CAST(_id AS BIGINT) % 7 = 0
     OR (CAST(_id AS BIGINT) % 7 <> 0
         AND CAST(_id AS BIGINT) % 11 <> 0)
),
way_refs AS (
  SELECT _id AS src, unnest(list_distinct(nds)) AS ref
  FROM final WHERE doc_type = 'way'
),
rel_refs AS (
  SELECT _id AS src, m.ref AS ref
  FROM (SELECT _id, unnest(members) AS m FROM final WHERE doc_type = 'relation')
),
refs AS (
  SELECT src, ref FROM way_refs WHERE ref IS NOT NULL
  UNION ALL
  SELECT src, ref FROM rel_refs WHERE ref IS NOT NULL
)
SELECT ref AS _id,
       array_to_string(list_sort(list(src))[1:1], '|') AS refers,
       count(*) AS refer_count
FROM refs
GROUP BY ref
"""


@register(
    "m10_ref_docs_incremental_capped",
    "Incremental maintenance of the CAPPED (production-shape) ref_docs "
    "view -- round-9 residual #2.  Same insert/delete batch as m9 "
    "applied to the cap=1 index: refer_count merges by pure addition, "
    "the rank prefix merges as top-cap of (survivors ++ inserts), and "
    "the few postings whose over-cap prefix lost an entry are refilled "
    "from a broadcast-semi-PRUNED keyed read of the post-batch corpus "
    "(only flagged refs' pairs shuffle; the index itself never "
    "shuffles).  cap=1 makes prefix truncation and the refill path "
    "bind on the fixture (max refer_count 2-3).  Oracle: capped full "
    "rebuild over (base - deletes) + inserts.",
    _M10_ORACLE,
    tags=("mview", "incremental", "osm"),
)
def q_ref_docs_incremental_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/shape.apply_ref_docs_delta with ``cap`` does the
    maintenance; base/batch staging mirrors m9 (in production the old
    index is a table read)."""
    from ..operators.shape import apply_ref_docs_delta, build_ref_docs

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw)
    id_l = F.col("_id").cast("long")
    base = docs.filter(id_l % 7 != 0)
    inserted = docs.filter(id_l % 7 == 0)
    deleted = base.filter(id_l % 11 == 0)
    corpus_after = docs.filter(
        (id_l % 7 == 0) | ((id_l % 7 != 0) & (id_l % 11 != 0))
    )
    old_index = build_ref_docs(base, cap=1)
    new_index = apply_ref_docs_delta(
        old_index, inserted, deleted, cap=1, corpus_after=corpus_after
    )
    return new_index.select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.col("refer_count").cast("long").alias("refer_count"),
    )


@register(
    "m15_ref_docs_stream_maintained",
    "The capped ref_docs index maintained CONTINUOUSLY by the "
    "streaming CDC pipeline (streaming/index_maint.py): the m10 "
    "insert/delete batch is split into two mtime-ordered CDC parquet "
    "files (full doc payloads tagged _op), a foreachBatch query "
    "consumes them one micro-batch each, MERGEs the documents "
    "CowTable then lands the changes-only capped index delta "
    "(ref_docs_delta_changes with cap) into the index CowTable with "
    "batchId-keyed idempotence.  Oracle: the post-stream index table "
    "must equal a capped full rebuild over (base - deletes) + "
    "inserts -- the exact m10 oracle.",
    _M10_ORACLE,
    tags=("mview", "incremental", "osm", "streaming", "sink"),
)
def q_ref_docs_stream_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging (CowTable.create of base corpus/index, CDC file layout)
    is test scaffolding like m10/m11's inline rebuilds; the maintained
    path is the production composition: CDC stream -> foreachBatch ->
    corpus MERGE -> capped delta -> index MERGE."""
    import atexit
    import glob
    import shutil
    import tempfile

    from ..operators.shape import build_ref_docs
    from ..sources.cow_table import CowTable
    from ..streaming.index_maint import run_ref_docs_maintenance_stream

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw).select(
        "_id", "doc_type", "node_refs", "members"
    )
    id_l = F.col("_id").cast("long")
    base = docs.filter(id_l % 7 != 0)
    inserted = docs.filter(id_l % 7 == 0)
    deleted = base.filter(id_l % 11 == 0)

    work = tempfile.mkdtemp(prefix="m15_stream_")
    # Returned frame reads the index table lazily (cf. m11): clean the
    # whole staging (tables + CDC files + stream checkpoint) at exit so
    # repeated correctness/bench passes don't accumulate under /tmp.
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    corpus = CowTable.create(spark, f"{work}/docs", base)
    index = CowTable.create(
        spark, f"{work}/ref_docs", build_ref_docs(base, cap=1)
    )
    batches_dir = f"{work}/cdc"
    os.makedirs(batches_dir)
    for n in (0, 1):  # batch n: the _id%2==n half of the CDC feed
        cdc = (
            inserted.filter(id_l % 2 == n).withColumn("_op", F.lit("insert"))
            .unionByName(
                deleted.filter(id_l % 2 == n).withColumn(
                    "_op", F.lit("delete")
                )
            )
        )
        stage = f"{batches_dir}/_stage{n}"
        cdc.coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{batches_dir}/batch{n:03d}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_700_000_000 + n, 1_700_000_000 + n))

    run_ref_docs_maintenance_stream(
        spark, batches_dir, corpus.path, index.path, cap=1,
        checkpoint_dir=f"{work}/ckpt",
    )
    return index.read().select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.col("refer_count").cast("long").alias("refer_count"),
    )


_F8_ORACLE = rf"""
WITH raw AS (
  SELECT CAST(_id AS BIGINT) AS id, tags
  FROM read_parquet('{FIXTURE_PARQUET}')
),
exploded AS (
  SELECT id, x.k AS k, x.v AS v
  FROM (SELECT id, unnest(tags) AS x FROM raw)
  WHERE contains(x.k, ':')
),
planted AS (
  SELECT id, 'service:bicycle:pump' AS k, 'yes' AS v
  FROM raw WHERE id % 5 = 0
  UNION ALL
  SELECT id, 'service:bicycle:repair:tools' AS k, 'basic' AS v
  FROM raw WHERE id % 5 = 1
),
pairs AS (  -- one row per (id, k): keep-min dedupe, mirrored in Spark
  SELECT id, k, min(v) AS v
  FROM (SELECT * FROM exploded UNION ALL SELECT * FROM planted)
  GROUP BY id, k
),
p AS (
  -- Depth guard: this oracle hand-assembles nesting only to depth 4
  -- (d = 2/3/4 branches below); a deeper key would be SILENTLY
  -- dropped here while nest_subdocs_json nests it, surfacing as a
  -- baffling hash mismatch.  error() makes the oracle fail loudly
  -- instead the moment the fixture grows a 5-segment key.
  SELECT id, parts[1] AS root, parts[2] AS a, parts[3] AS b,
         CASE WHEN len(parts) > 4
              THEN error('f8 oracle supports depth <= 4, got key ' || k)
              ELSE parts[4] END AS c,
         len(parts) AS d, v
  FROM (SELECT id, k, string_split(k, ':') AS parts, v FROM pairs)
),
l3 AS (  -- depth-4 leaves: {{c: v}} per (id, root, a, b)
  SELECT id, root, a, b,
         '{{' || string_agg(to_json(c) || ':' || to_json(v), ',' ORDER BY c)
             || '}}' AS j
  FROM p WHERE d = 4 GROUP BY id, root, a, b
),
l2items AS (
  SELECT id, root, a, b AS key, to_json(v) AS jv FROM p WHERE d = 3
  UNION ALL
  SELECT id, root, a, b AS key, j AS jv FROM l3
),
l2 AS (
  SELECT id, root, a,
         '{{' || string_agg(to_json(key) || ':' || jv, ',' ORDER BY key)
             || '}}' AS j
  FROM l2items GROUP BY id, root, a
),
l1items AS (
  SELECT id, root, a AS key, to_json(v) AS jv FROM p WHERE d = 2
  UNION ALL
  SELECT id, root, a AS key, j AS jv FROM l2
),
subdocs AS (
  SELECT id, root,
         '{{' || string_agg(to_json(key) || ':' || jv, ',' ORDER BY key)
             || '}}' AS subdoc
  FROM l1items GROUP BY id, root
)
SELECT id, root, subdoc FROM subdocs
"""


@register(
    "f8_nested_subdocs",
    "TRUE recursive subdocument nesting (reference F8 subdiv_key, "
    "clean_and_write.py:128-143): every colon-path tag key on the OSM "
    "fixture -- plus planted depth-3/depth-4 keys derived from id "
    "arithmetic -- is assembled into its nested document, emitted as "
    "canonical JSON (sorted keys, compact separators) per (element, "
    "root).  The oracle rebuilds the same nested JSON bottom-up with "
    "fixed-depth SQL aggregation, so the hash pins every byte of "
    "every assembled subdocument; depths beyond the oracle's 4 are "
    "covered by tests/test_osm_pipeline.py.",
    _F8_ORACLE,
    tags=("etl", "nested"),
)
def q_nested_subdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-shaped like the etl audit (sf-independent).  JVM-side
    explode/filter/union/dedupe feeds the Arrow-batched recursive
    assembler (operators/shape.py:nest_subdocs_json) -- the one
    genuinely non-columnar step; see its docstring for the 100 TB
    shape (single id-keyed shuffle, co-partitioned with the document
    builder)."""
    from ..operators.shape import nest_subdocs_json

    raw = spark.read.parquet(FIXTURE_PARQUET).select(
        F.col("_id").cast("long").alias("id"), "tags"
    )
    exploded = (
        raw.select("id", F.explode("tags").alias("t"))
        .filter(F.col("t.k").contains(":"))
        .select("id", F.col("t.k").alias("k"), F.col("t.v").alias("v"))
    )
    planted = (
        raw.filter(F.col("id") % 5 == 0)
        .select(
            "id",
            F.lit("service:bicycle:pump").alias("k"),
            F.lit("yes").alias("v"),
        )
        .unionByName(
            raw.filter(F.col("id") % 5 == 1).select(
                "id",
                F.lit("service:bicycle:repair:tools").alias("k"),
                F.lit("basic").alias("v"),
            )
        )
    )
    pairs = (
        exploded.unionByName(planted)
        .groupBy("id", "k")
        .agg(F.min("v").alias("v"))
    )
    return nest_subdocs_json(pairs)


_M16_ORACLE = rf"""
WITH raw AS (
  SELECT * FROM read_parquet('{FIXTURE_PARQUET}')
),
final AS (  -- (base - deletes) + inserts, with the update set marked
  SELECT _id, doc_type, nds, members,
         (CAST(_id AS BIGINT) % 7 <> 0 AND CAST(_id AS BIGINT) % 11 <> 0
          AND CAST(_id AS BIGINT) % 13 = 1) AS is_upd
  FROM raw
  WHERE CAST(_id AS BIGINT) % 7 = 0
     OR (CAST(_id AS BIGINT) % 7 <> 0 AND CAST(_id AS BIGINT) % 11 <> 0)
),
way_refs AS (  -- updated ways drop their smallest ref (set-safe:
               -- min of the raw list == min of the distinct set)
  SELECT src, ref FROM (
    SELECT _id AS src, unnest(list_distinct(nds)) AS ref,
           CASE WHEN is_upd THEN list_min(nds) END AS drop_ref
    FROM final WHERE doc_type = 'way'
  ) WHERE drop_ref IS NULL OR ref <> drop_ref
),
rel_refs AS (
  SELECT _id AS src, m.ref AS ref
  FROM (SELECT _id, unnest(members) AS m FROM final WHERE doc_type = 'relation')
),
refs AS (
  SELECT src, ref FROM way_refs WHERE ref IS NOT NULL
  UNION ALL
  SELECT src, ref FROM rel_refs WHERE ref IS NOT NULL
)
SELECT ref AS _id,
       array_to_string(list_sort(list(src))[1:1], '|') AS refers,
       count(*) AS refer_count
FROM refs
GROUP BY ref
"""


@register(
    "m16_ref_docs_stream_upserts",
    "The m15 streaming maintainer under a REALISTIC CDC feed: besides "
    "inserts and deletes, the batches carry UPDATES of live documents "
    "(an insert event for an existing _id, payload = new refs -- each "
    "updated way drops its smallest node ref) and an intra-batch "
    "insert-then-delete pair for a transient doc that must leave no "
    "trace.  Exercises the applier's collapse-to-last-event and "
    "txn-resolved pre-image diff: the index must drop each updated "
    "doc's OLD refs (which only the pre-batch corpus snapshot knows) "
    "and add the new ones.  Oracle: capped full rebuild over the net "
    "post-stream corpus, updates applied as set arithmetic.",
    _M16_ORACLE,
    tags=("mview", "incremental", "osm", "streaming", "sink"),
)
def q_ref_docs_stream_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging mirrors m15 (CowTable.create + mtime-ordered CDC files
    is test scaffolding); the maintained path is the production
    composition with update events mixed into both batches."""
    import atexit
    import glob
    import shutil
    import tempfile

    from ..operators.shape import build_ref_docs
    from ..sources.cow_table import CowTable
    from ..streaming.index_maint import run_ref_docs_maintenance_stream

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw).select(
        "_id", "doc_type", "node_refs", "members"
    )
    id_l = F.col("_id").cast("long")
    base = docs.filter(id_l % 7 != 0)
    inserted = docs.filter(id_l % 7 == 0)
    deleted = base.filter(id_l % 11 == 0)
    updated = base.filter((id_l % 11 != 0) & (id_l % 13 == 1)).withColumn(
        "node_refs",
        F.when(
            F.size("node_refs") > 0,
            F.array_remove("node_refs", F.array_min("node_refs")),
        ).otherwise(F.col("node_refs")),
    )

    work = tempfile.mkdtemp(prefix="m16_stream_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    corpus = CowTable.create(spark, f"{work}/docs", base)
    index = CowTable.create(
        spark, f"{work}/ref_docs", build_ref_docs(base, cap=1)
    )
    batches_dir = f"{work}/cdc"
    os.makedirs(batches_dir)
    for n in (0, 1):  # batch n: the _id%2==n half of the CDC feed
        cdc = (
            inserted.filter(id_l % 2 == n).withColumn("_op", F.lit("insert"))
            .unionByName(
                deleted.filter(id_l % 2 == n).withColumn(
                    "_op", F.lit("delete")
                )
            )
            .unionByName(  # UPDATE events: insert over a live _id
                updated.filter(id_l % 2 == n).withColumn(
                    "_op", F.lit("insert")
                )
            )
        )
        if n == 0:
            # transient doc: insert then delete WITHIN the batch --
            # must never reach corpus or index (row order in the
            # single coalesced file is event order).
            zz = spark.createDataFrame(
                [
                    ("zzz_transient", "way", ["42"], None, "insert"),
                    ("zzz_transient", "way", ["42"], None, "delete"),
                ],
                "_id string, doc_type string, node_refs array<string>, "
                "members array<struct<type:string,ref:string,role:string>>"
                ", _op string",
            ).coalesce(1)
            cdc = cdc.unionByName(zz)
        stage = f"{batches_dir}/_stage{n}"
        cdc.coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{batches_dir}/batch{n:03d}.parquet"
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_700_000_000 + n, 1_700_000_000 + n))

    run_ref_docs_maintenance_stream(
        spark, batches_dir, corpus.path, index.path, cap=1,
        checkpoint_dir=f"{work}/ckpt", app_id="ref_docs_upserts",
    )
    return index.read().select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.col("refer_count").cast("long").alias("refer_count"),
    )


@register(
    "m24_ref_docs_cdf_maintained",
    "The capped ref_docs index maintained FROM THE CORPUS TABLE'S OWN "
    "CHANGE FEED (streaming/change_feed + operators/shape."
    "apply_ref_docs_delta with cap) -- incremental view maintenance "
    "with NO external CDC feed and NO pre-image corpus read: the "
    "documents CowTable is created with change_feed=True, the m15 "
    "insert/delete batch lands as two MERGE commits (one copy-on-"
    "write, one merge-on-read through deletion vectors -- both paths "
    "emit the identical feed), and the streamed change rows "
    "THEMSELVES carry the removed docs (delete/update_preimage) and "
    "added docs (insert/update_postimage) the delta maintainer "
    "needs.  m15 resolves pre-images by time-traveling the corpus "
    "per batch; here the feed makes that read unnecessary -- the "
    "classic reason warehouses attach IVM to CDF.  A planted set of "
    "UNCHANGED re-merged docs exercises the update pair end-to-end "
    "(remove+add of identical rows, net zero in the index).  Oracle: "
    "the maintained index must equal the capped full rebuild over "
    "(base - deletes) + inserts -- the exact m10/m15 oracle.",
    _M10_ORACLE,
    tags=("mview", "incremental", "osm", "streaming", "cdc", "sink"),
)
def q_ref_docs_cdf_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging (CowTable create + two merges + parquet drain sink) is
    test scaffolding; the operators under test are the change-feed
    write/stream protocol and the feed-driven capped delta
    maintainer."""
    import atexit
    import shutil
    import tempfile

    from ..operators.shape import apply_ref_docs_delta, build_ref_docs
    from ..sources.cow_table import CowTable
    from ..streaming.change_feed import stream_changes

    raw = spark.read.schema(RAW_ELEMENT_SCHEMA).parquet(FIXTURE_PARQUET)
    docs = shape_documents(raw).select(
        "_id", "doc_type", "node_refs", "members"
    )
    id_l = F.col("_id").cast("long")
    base = docs.filter(id_l % 7 != 0)
    inserted = docs.filter(id_l % 7 == 0)
    deleted = base.filter(id_l % 11 == 0)
    # survives both commits AND is re-merged byte-identically: the
    # feed emits an update_preimage/update_postimage pair per doc,
    # which the maintainer must cancel exactly.
    unchanged = base.filter((id_l % 11 != 0) & (id_l % 13 == 1))

    work = tempfile.mkdtemp(prefix="m24_cdf_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    corpus = CowTable.create(
        spark, f"{work}/docs", base, change_feed=True
    )
    corpus.merge(
        inserted.filter(id_l % 2 == 0),
        "_id",
        deletes=deleted.filter(id_l % 2 == 0),
    )
    corpus.merge(
        inserted.filter(id_l % 2 == 1).unionByName(unchanged),
        "_id",
        deletes=deleted.filter(id_l % 2 == 1),
        strategy="mor",
    )

    sink = f"{work}/delivered"

    def absorb(batch_df, _bid):
        batch_df.drop("_change_file", "_commit_version").write.mode(
            "append"
        ).parquet(sink)

    q = (
        stream_changes(spark, corpus.path)
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(sink)
    adds = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    removes = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).drop("_change_type")
    maintained = apply_ref_docs_delta(
        build_ref_docs(base, cap=1), adds, removes,
        cap=1, corpus_after=corpus.read(),
    )
    return maintained.select(
        "_id",
        F.concat_ws("|", F.col("refers")).alias("refers"),
        F.col("refer_count").cast("long").alias("refer_count"),
    )
