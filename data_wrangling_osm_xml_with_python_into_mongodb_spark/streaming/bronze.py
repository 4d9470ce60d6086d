"""Streaming twin of the XML -> bronze ETL.

The reference's actual pipeline is a one-shot batch run over a single
downloaded extract (clean_and_write.py:423-429: one ``ET.iterparse``
stream -> cleaned dicts -> JSON file -> mongoimport).  At production
scale the same pipeline is continuous: extracts land in a directory as
they arrive and must flow into the bronze table incrementally without
re-parsing old files.  This module runs the SAME parser
(`sources.osm_xml._parse_slice`) under Structured Streaming's file
source, so batch bronze and streaming bronze are mutually checking
twins (tests assert stream == batch on the fixture).

Design:

* ``readStream.format("binaryFile")`` is the streaming file source:
  Spark's generic ``FileStreamSource`` drives any FileFormat, so the
  same whole-file binary rows the batch whole-file reader consumes
  arrive incrementally here (the text source is line-granular under
  streaming -- its ``wholetext`` option is ignored -- so binary rows
  are also the only way to keep byte-exact XML).  The source
  checkpoints which files it has consumed: each XML file is parsed
  exactly once across restarts, the incremental version of
  ``materialize_raw``'s parse-once contract.
* ``mapInArrow`` with the shared parse core parses each file's text
  in one stateless pass -- legal under streaming (no aggregation
  state), so the whole plan stays incremental.
* ``Trigger.AvailableNow`` drains everything currently in the
  directory then stops -- the batch-parity mode used by the tests and
  by backfills; a production deployment would run the same query
  continuously with ``maxFilesPerTrigger`` throttling ingest.

File-granular parallelism is the right shape here (a stream delivers
many modest files over time, not one 100 GB file); the byte-range
split reader remains the batch path for huge single-file backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import RAW_ELEMENT_SCHEMA
from ..sources.osm_xml import _parse_slice

# binaryFile's fixed schema; streaming sources require it stated
# explicitly (no inference pass on an unbounded input).
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def read_osm_element_stream(
    spark: SparkSession,
    xml_dir: str,
    batch_rows: int = 50_000,
    chunk_bytes: int = 4 << 20,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open a directory of OSM XML files as a streaming
    RAW_ELEMENT_SCHEMA frame (one parse per newly-arrived file)."""
    reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(xml_dir).select("content")

    def parse(batches):
        for rb in batches:
            for content_scalar in rb.column(0):
                yield from _parse_slice(
                    content_scalar.as_py(), batch_rows, chunk_bytes,
                    wrap=False,
                )

    return files.mapInArrow(parse, RAW_ELEMENT_SCHEMA)


def run_bronze_backfill(
    spark: SparkSession,
    xml_dir: str,
    out_path: str,
    checkpoint_path: str,
    batch_rows: int = 50_000,
) -> None:
    """Drain every XML file currently under ``xml_dir`` into a bronze
    parquet directory via one AvailableNow streaming run.

    The checkpoint makes re-runs incremental: files consumed by a
    previous invocation are skipped, so appending a new extract shard
    and re-calling this parses only the new shard -- the streaming
    counterpart of ``materialize_raw``'s one-time-ingest contract.
    """
    raw = read_osm_element_stream(spark, xml_dir, batch_rows=batch_rows)
    (
        raw.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_path)
        .start(path=out_path, format="parquet", outputMode="append")
        .awaitTermination()
    )
