"""Change-log source readers: the sync_data shape (schemas.py) as parquet.

The log is the reference's one change-log table (sync_data), stored as
parquet files that the capture side appends. Batch and streaming readers
declare SYNC_DATA_SCHEMA explicitly, never inferSchema (a schema inference
pass over 100 TB is a full extra scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dbsync_spark.schemas import SYNC_DATA_SCHEMA


def read_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(SYNC_DATA_SCHEMA).parquet(path)


def read_log_stream(spark: SparkSession, path: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    # segment-mode retention unlinks files whose every row is OK-acked —
    # but acks are written inside foreachBatch, BEFORE the epoch's
    # checkpoint commit. A crash in that window makes Spark replay the
    # batch from the offset log's recorded file list, and a strict scan
    # would fail forever on the swept file. Skipping it is safe exactly
    # because of the unlink precondition: every row it held was already
    # merged (replay is a no-op under the _last_id watermark) and acked.
    reader = (spark.readStream.schema(SYNC_DATA_SCHEMA)
              .option("ignoreMissingFiles", "true"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
