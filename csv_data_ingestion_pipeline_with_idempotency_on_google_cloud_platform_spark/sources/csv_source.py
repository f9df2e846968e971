"""CSV directory source — operator S1 in SURVEY.md §2a.

Reference behavior (``/root/reference/csv-processor-function/main.py:39-41,
116-121``): a new object in the bucket triggers processing; content is
downloaded as one text blob and split on newlines. Spark-first
re-expression:

- typed access:      ``spark.read.csv(dir, header=True, mode=PERMISSIVE)``
  with `_corrupt_record` capture so malformed rows become data, and
  partitioned scans instead of whole-file-in-memory download.
- file-granularity:  the hidden ``_metadata`` struct + ``input_file_name``
  gives (file_name, file_size, file_modification_time) without reading
  row content twice — the reference fetches the same triple via a GCS
  metadata RPC (``main.py:43-47``).
- event-driven:      ``spark.readStream`` file source (streaming module)
  natively reproduces "new file appears → gets processed"
  (``ARCHITECTURE.md:10-16``).

At 100 TB scale the batch reader splits large CSVs across tasks
(``spark.sql.files.maxPartitionBytes``) and compacts small files per task
(``openCostInBytes``); nothing is ever collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """Typed, partitioned CSV scan with corrupt-record capture.

    PERMISSIVE mode + `_corrupt_record` turns the reference's
    exception-driven failure path (main.py:126-127 raise) into a data
    path: bad rows survive the scan and can be routed to `failed`.
    """
    reader = spark.read.option("header", str(header).lower()).option("mode", "PERMISSIVE")
    if schema is not None:
        if "_corrupt_record" not in schema.fieldNames():
            schema = T.StructType(
                list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
            )
        reader = reader.schema(schema).option("columnNameOfCorruptRecord", "_corrupt_record")
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def file_lines(text: DataFrame) -> DataFrame:
    """Per-line rows of a `text` scan (batch or streaming) with the
    identity triple the reference fetches per blob (main.py:43-47):
    (bucket_name, file_name, file_size, time_created) plus `line`.

    `_metadata.file_path`/`file_name` are URI-encoded (a space is `%20`,
    `%` is `%25`), and so is the derived `bucket_name`; decode them with
    `uri_decoded` once per file, after the per-file aggregation.
    """
    df = text.select(
        F.col("_metadata.file_path").alias("full_path"),
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.file_size").alias("file_size"),
        F.col("_metadata.file_modification_time").alias("time_created"),
        F.col("value").alias("line"),
    )
    # bucket_name := parent directory (object-store bucket stand-in)
    return df.withColumn(
        "bucket_name",
        F.element_at(F.split(F.col("full_path"), "/"), -2),
    )


def uri_decoded(col: str) -> Column:
    """Percent-decode a `_metadata` path segment back to the raw name.

    Bare `url_decode` is form decoding and turns `+` into a space; a
    literal `+` is never escaped in a URI path, so it is protected as
    `%2B` first and decodes back to itself.
    """
    return F.url_decode(F.replace(F.col(col), F.lit("+"), F.lit("%2B")))


def read_csv_file_metadata(spark: SparkSession, path: str) -> DataFrame:
    """`file_lines` over a text scan of a CSV directory: files are read
    line-wise, not parsed, and carry their identity to the per-file
    counts downstream.
    """
    return file_lines(spark.read.format("text").load(path))


def read_csv_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """Structured Streaming file source — the event-driven trigger.

    `maxFilesPerTrigger` is the admission-control knob standing in for
    the reference's per-event function invocation (ARCHITECTURE.md:153-158).
    """
    return (
        spark.readStream.format("csv")
        .schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )
