"""Batch ingest pipeline — the reference's entire write path as one
declarative Spark job (SURVEY.md §3.4, phase 0).

Reference dataflow (``main.py:21-157``, two serverless functions joined
by Pub/Sub):

    object.finalized → suffix filter → metadata fetch → upload_id →
    idempotency check → ledger 'pending' → queue hop →
    ledger 'processing' → download → split lines → validate →
    ledger 'done'|'failed'

Spark re-expression — every RPC boundary becomes a stage inside one
job; Catalyst fuses the filters/projections into the scan:

    csv file listing (S1) → endswith('.csv') filter (F1) →
    per-file line counts (A1) → upload_id (K1) →
    LEFT ANTI JOIN terminal(ledger) = latest `done` (F2) or at the DLQ
    cap (E2) → validation (V1) → append done/failed transition rows (S3/T1)

Exactly-once *effect* comes from the anti-join gate (content-addressed
key) rather than a per-file read-check-write. That closes the
reference's TOCTOU window (SURVEY §3.2) only for a single writer: the
gate reads the ledger before the append, so two concurrent
`ingest_batch` calls on one directory can both append `done` for the
same upload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import upload_id_col
from ..schemas import MAX_DELIVERY_ATTEMPTS
from ..sources.csv_source import read_csv_file_metadata, uri_decoded
from .ledger import latest_wins, read_ledger, upsert_append

# Engine validation semantics (documented divergence from the reference's
# raw `content.split('\n')` count, FIXTURES.md §1): a file must contain
# at least one *parsed data row* (header excluded) to be `done`.
MIN_DATA_ROWS = 1


def file_facts(lines: DataFrame) -> DataFrame:
    """One row per .csv file of a `csv_source.file_lines` frame (a batch
    scan or one micro-batch): raw identity tuple + upload_id + line counts.
    """
    # F1: case-insensitive suffix filter (main.py:34-36). Applied before
    # anything else so non-CSV files never reach hashing or counting.
    per_file = (
        lines.filter(F.lower(F.col("file_name")).endswith(".csv"))
        .groupBy("bucket_name", "file_name", "file_size", "time_created")
        .agg(F.count("*").alias("n_lines"))
        .withColumn("bucket_name", uri_decoded("bucket_name"))
        .withColumn("file_name", uri_decoded("file_name"))
    )
    return per_file.withColumn(
        "upload_id",
        upload_id_col("bucket_name", "file_name", "file_size", "time_created"),
    ).withColumn(
        # header-aware data-row count; a completely empty file lists 0 lines
        "data_rows",
        F.greatest(F.col("n_lines") - 1, F.lit(0)),
    )


def terminal_upload_ids(ledger: DataFrame) -> DataFrame:
    """upload_ids the ingest gate must never re-attempt: latest status
    `done` (F2 idempotency) OR failed >= MAX_DELIVERY_ATTEMPTS times
    (E2 terminal gate — the reference's DLQ retry cap,
    ARCHITECTURE.md:75). Below the cap, failed files re-attempt and a
    success overwrites `failed` with `done` (redelivery semantics,
    SURVEY §3.2).

    Both conditions come from one `groupBy(upload_id)`, so the ledger is
    read once through one shuffle.
    """
    per_upload = ledger.groupBy("upload_id").agg(
        F.max_by("status", "ts").alias("__latest"),
        F.count_if(F.col("status") == "failed").alias("__failed"),
    )
    return per_upload.filter(
        (F.col("__latest") == "done") | (F.col("__failed") >= MAX_DELIVERY_ATTEMPTS)
    ).select("upload_id")


def plan_transitions(per_file: DataFrame, ledger: DataFrame) -> DataFrame:
    """The ingest dataflow after the scan, shared by the batch and
    streaming paths: gate `file_facts` rows against the ledger's
    terminal uploads, then validate each fresh file into one `done` or
    `failed` transition row (LEDGER_SCHEMA order)."""
    # F2: idempotency gate. The ledger side is tiny relative to the scan
    # at scale — broadcast it so the gate is shuffle-free.
    fresh = per_file.join(F.broadcast(terminal_upload_ids(ledger)), "upload_id", "left_anti")

    ok = F.col("data_rows") >= MIN_DATA_ROWS
    now = F.current_timestamp()
    return fresh.select(
        "upload_id",
        "bucket_name",
        "file_name",
        "file_size",
        F.when(ok, F.lit("done")).otherwise(F.lit("failed")).alias("status"),
        now.alias("queued_at"),
        now.alias("processing_started_at"),
        F.when(ok, now).alias("processing_completed_at"),
        F.when(~ok, now).alias("failed_at"),
        F.when(
            ~ok, F.concat(F.lit("CSV file has no data rows: "), F.col("file_name"))
        ).alias("error_message"),
        F.when(ok, F.col("n_lines")).alias("lines_processed"),
        now.alias("ts"),
    )


def ingest_batch(spark: SparkSession, csv_dir: str, ledger_dir: str) -> DataFrame:
    """Run one ingest pass; returns the latest-wins ledger view after it.

    Idempotent by construction: a re-run appends nothing for uploads
    that are `done` or at the DLQ cap; a failed file below the cap is
    re-attempted, matching the reference's redelivery-overwrites-failed
    semantics (SURVEY §3.2).
    """
    per_file = file_facts(read_csv_file_metadata(spark, csv_dir))
    upsert_append(plan_transitions(per_file, read_ledger(spark, ledger_dir)), ledger_dir)
    return latest_wins(read_ledger(spark, ledger_dir))
