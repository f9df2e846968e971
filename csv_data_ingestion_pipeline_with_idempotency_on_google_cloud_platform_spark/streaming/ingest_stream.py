"""Event-driven ingest — SURVEY.md §7 phase 2 (streaming parity).

The reference's trigger chain (object.finalized → function → Pub/Sub →
function, ``ARCHITECTURE.md:10-16,103-117``) collapses into ONE
Structured Streaming query: the file source's directory listing replaces
the storage event, `maxFilesPerTrigger` replaces per-event function
invocation, and `foreachBatch` + checkpoint provide the transactional
boundary the Pub/Sub hop only approximates.

Exactly-once effect: the checkpoint guarantees each file is admitted to
exactly one batch per query lifetime, and inside the batch the
idempotency anti-join (F2) re-gates against the ledger — so even a
restart-with-reprocessed-batch appends no duplicate `done` rows. This
improves on the reference's at-least-once + TOCTOU-window semantics
(SURVEY §3.2) for a single writer; a concurrent batch ingest on the same
ledger is not fenced out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ingest import file_facts, plan_transitions
from ..operators.ledger import read_ledger, upsert_append
from ..sources.csv_source import file_lines


def _process_batch(spark: SparkSession, batch: DataFrame, ledger_dir: str) -> None:
    """Per-micro-batch ingest: the batch path's dataflow over one
    micro-batch's per-line rows. The gate also skips DLQ-terminal
    uploads, so a permanently failing file re-listed by each new query
    lifetime stops at the reference's 5-attempt policy."""
    per_file = file_facts(batch)
    upsert_append(plan_transitions(per_file, read_ledger(spark, ledger_dir)), ledger_dir)


def start_ingest_stream(
    spark: SparkSession,
    csv_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 100,
):
    """Start the event-driven ingest query; returns the StreamingQuery.

    Reads line-wise with the text source + `_metadata` so per-file
    identity (name/size/mtime) travels with every line — the same
    `csv_source.file_lines` projection the batch scan uses.
    """
    lines = file_lines(
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(csv_dir)
    )

    return (
        lines.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda batch, _id: _process_batch(spark, batch, ledger_dir))
        .start()
    )
