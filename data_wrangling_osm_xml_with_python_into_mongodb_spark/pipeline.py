"""End-to-end ETL pipeline driver: the reference's ``process_map``
(clean_and_write.py:423-429) + audit/materialization flow as ONE call.

The reference's full run (main.ipynb cells 3-31) is: stream-parse the
XML, clean and reshape every element, validate, write newline-JSON,
bulk-load, then materialize the ref_docs view.  ``run_pipeline`` is the
Spark shape of that run, bronze-first:

1. ``materialize_raw``    -- XML parsed ONCE into the bucketed bronze
2. ``shape_documents``    -- exchange-free off the bronze layout
3. ``validate_documents`` -- invariant split into serving + quarantine
4. parquet (canonical) and optional newline-JSON (mongoimport-format)
5. ``build_ref_docs``     -- capped inverted reference index

CLI: ``python -m data_wrangling_osm_xml_with_python_into_mongodb_spark.pipeline <xml_path> <out_dir>``
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .operators.shape import build_ref_docs, shape_documents, validate_documents
from .sources.osm_xml import materialize_raw
from .sources.sinks import write_json, write_parquet


@dataclass
class PipelineResult:
    documents: DataFrame
    quarantine: DataFrame
    ref_docs: DataFrame
    counts: dict[str, int]


def run_pipeline(
    spark: SparkSession,
    xml_path: str,
    out_dir: str,
    write_json_sink: bool = False,
    ref_docs_cap: int = 100,
    buckets: int | None = None,
) -> PipelineResult:
    """Run the full ETL; returns the three output frames plus counts.

    Outputs under ``out_dir``: ``bronze/`` (raw elements, bucketed by
    id), ``documents.parquet`` (valid documents, partitioned by
    doc_type), ``quarantine.parquet`` (invariant violations -- the
    reference prints these; at scale an auditable table is the
    equivalent), ``ref_docs.parquet`` (capped posting lists), and
    optionally ``documents.json/`` (mongoimport format).

    ``buckets`` is the bronze bucket count, one task per bucket in every
    stage that reads the bronze.  ``None`` derives it from the input
    (``materialize_raw``): one bucket per 128 MB of XML, at least one
    per core, at most ``spark.sql.sources.bucketing.maxBuckets``.
    """
    # Per-out_dir bronze table name: a fixed name would collide across
    # concurrent/successive runs in one catalog (the overwrite would
    # repoint a table another run is still reading).
    import hashlib

    table = "pipeline_bronze_" + hashlib.md5(
        os.path.abspath(out_dir).encode()
    ).hexdigest()[:12]
    bronze = materialize_raw(
        spark,
        xml_path,
        os.path.join(out_dir, "bronze"),
        table=table,
        buckets=buckets,
    )
    try:
        docs = shape_documents(bronze)
        valid, quarantine = validate_documents(docs)

        write_parquet(
            valid,
            os.path.join(out_dir, "documents.parquet"),
            partition_by=["doc_type"],
        )
        write_parquet(quarantine, os.path.join(out_dir, "quarantine.parquet"))
        if write_json_sink:
            write_json(valid, os.path.join(out_dir, "documents.json"))

        valid_pq = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
        refs = build_ref_docs(valid_pq, cap=ref_docs_cap)
        write_parquet(refs, os.path.join(out_dir, "ref_docs.parquet"))
        quarantine_pq = spark.read.parquet(
            os.path.join(out_dir, "quarantine.parquet")
        )
        refs_pq = spark.read.parquet(os.path.join(out_dir, "ref_docs.parquet"))
        counts = {
            "raw_elements": bronze.count(),
            "documents": valid_pq.count(),
            "quarantined": quarantine_pq.count(),
            "ref_docs": refs_pq.count(),
        }
    finally:
        # The bronze FILES stay under out_dir (reusable by downstream
        # jobs); only the session-catalog registration is transient.
        # Returned frames read from the written parquet, so nothing
        # dangles on the dropped table.
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    return PipelineResult(
        documents=valid_pq,
        quarantine=quarantine_pq,
        ref_docs=refs_pq,
        counts=counts,
    )


def main() -> int:
    import sys

    from .session import get_spark

    if len(sys.argv) < 3:
        print(
            "usage: python -m data_wrangling_osm_xml_with_python_into_mongodb_spark.pipeline "
            "<xml_path> <out_dir> [--json]",
            file=sys.stderr,
        )
        return 2
    xml_path, out_dir = sys.argv[1], sys.argv[2]
    spark = get_spark(app_name="run_pipeline")
    try:
        res = run_pipeline(
            spark, xml_path, out_dir, write_json_sink="--json" in sys.argv[3:]
        )
        for k, v in res.counts.items():
            print(f"{k}: {v}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
