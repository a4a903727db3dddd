"""CSV source with explicit schema + corrupt-record routing (S2).

Reference: downloads each S3 object and lets pandas infer everything
(src/s3_processor.py:82-110). Here: one declarative reader over a glob —
Spark's file index does the listing (no MaxKeys=10 truncation bug,
SURVEY §1.4.5), PERMISSIVE mode captures malformed lines into
``_corrupt_record`` instead of failing the file. Batch reads and the
streaming ingest (streaming/ingest.py) share this one setup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from data_ingestion_lambda_spark.schemas import CONSUMPTION_RAW_SCHEMA, CORRUPT_COL


def consumption_csv(
    reader: DataFrameReader | DataStreamReader,
    paths: str | list[str],
    path_glob: str,
) -> DataFrame:
    """Consumption CSVs through ``reader``: ``spark.read``, or
    ``spark.readStream`` with any pacing (``maxFilesPerTrigger``) set.

    ``paths`` is a root directory searched recursively (the Spark
    replacement for the reference's per-prefix list_objects loop,
    src/s3_processor.py:46-59) or, batch only, a file list; only names
    matching ``path_glob`` are read. Provenance columns: ``_source_file``
    (the manifest entry's ``key``, src/s3_processor.py:61-66) and
    ``_block_start``, the byte offset of the row's file split."""
    return (
        reader.schema(CONSUMPTION_RAW_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("recursiveFileLookup", True)
        .option("pathGlobFilter", path_glob)
        .csv(paths)
        .withColumn("_source_file", F.input_file_name())
        .withColumn("_block_start", F.col("_metadata.file_block_start"))
    )


def read_consumption_csv(
    spark: SparkSession,
    paths: str | list[str],
    path_glob: str = "*consumption_*.csv",
) -> DataFrame:
    """Batch read of date-partitioned consumption CSVs."""
    return consumption_csv(spark.read, paths, path_glob)
