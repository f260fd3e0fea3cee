"""Incremental ETL ingest: the reference pipeline as a file-source stream.

The reference processes a closed directory per run (main.py:150-151);
its streaming analog is Spark's file source watching the same directory
— each newly landed event file becomes part of the next micro-batch,
flowing through EXACTLY the batch pipeline's decode → classify → route
→ 3-sink logic: the binaryFile rows go through etl/pipeline.event_docs,
and ``foreachBatch`` calls etl/pipeline.write_sinks. Exactly-once sink
behavior comes from the checkpoint + idempotent re-run of a batch id;
the CSV/parquet appends are per-batch-atomic at this layout.

Stream-only limit: the file source follows the Hadoop listing, so it
drops dot/underscore-prefixed names (``.json``, ``_backup.json``) and
cannot read ':'-named files. The batch scan reads both through a
driver-listed sidechannel (read_event_docs); the stream has no such
sidechannel, so those files never reach its sinks.

Scale notes: the file source's listing state is O(files seen); at
100 TB the JSONL layout (read_event_lines) keeps file counts sane
(thousands of multi-GB splittable shards, not billions of 1-doc files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from local_etl_spark.etl.pipeline import (
    BINARY_FILE_SCHEMA,
    PipelineConfig,
    TableConfig,
    classify,
    event_docs,
    write_sinks,
)
from local_etl_spark.etl.schema_translate import load_schema


def read_event_docs_stream(
    spark: SparkSession, data_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of etl/pipeline.read_event_docs (R1/R2). A
    streaming file source needs its schema up front."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.json")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return event_docs(reader.load(data_dir))


def run_table_stream(
    spark: SparkSession,
    cfg: PipelineConfig,
    table: TableConfig,
    checkpoint_dir: str,
    version: int = 2,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the incremental pipeline for one table.

    Returns the running StreamingQuery; callers drive it with
    ``processAllAvailable()`` (tests) or leave it running (production).
    """
    schema = load_schema(cfg.path(table.schema_file))
    docs = read_event_docs_stream(
        spark, cfg.path(table.data_dir), max_files_per_trigger
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        classified = classify(batch_df, schema).persist()
        try:
            write_sinks(cfg, table, schema, classified, version)
        finally:
            classified.unpersist()

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
