"""Uploads-ledger semantics — operators S3/S4/T1/F3/F4 (SURVEY.md §2a).

The reference's ledger is a Firestore collection mutated in place with
keyed upserts (``main.py:61-68``) and field updates
(``main.py:110-113,133-137,148-152``); its read surface is a point
lookup and a status-filtered listing (``README.md:48-64``).

Spark-first design: the ledger is an **append-only Parquet table** of
status-transition rows; "current state" is a latest-wins window view.
This is strictly more capable than the reference's in-place mutation
(full history preserved), needs no transactional store, and scales: the
append is a blind write (no read-modify-write), and the latest-wins
window shuffles once on `upload_id` — at 100 TB the table would be
date-partitioned so the view prunes to recent partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..schemas import LEDGER_SCHEMA

# on-disk schema: LEDGER_SCHEMA + the hive partition column
PARTITIONED_LEDGER_SCHEMA = T.StructType(
    list(LEDGER_SCHEMA.fields) + [T.StructField("ingest_date", T.DateType())]
)


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """Read the transition log; empty DataFrame if nothing ingested yet.

    A missing dir, or one holding only a `_SUCCESS` marker from an
    empty-batch append, yields an empty typed DataFrame instead of a
    lazy FileNotFound at action time. (Local-FS check; on object
    storage the ledger table is created once up front.)

    The table is hive-partitioned by `ingest_date` (see upsert_append),
    so time-bounded reads prune whole partitions; the partition column
    is dropped from the returned frame to keep LEDGER_SCHEMA stable for
    callers.
    """
    import glob
    import os

    if not glob.glob(os.path.join(ledger_dir, "**", "*.parquet"), recursive=True):
        return spark.createDataFrame([], LEDGER_SCHEMA)
    df = spark.read.schema(PARTITIONED_LEDGER_SCHEMA).parquet(ledger_dir)
    return df.select(*LEDGER_SCHEMA.fieldNames())


def upsert_append(transitions: DataFrame, ledger_dir: str) -> None:
    """Idempotent upsert as blind append (S3/S4).

    Firestore's ``set(merge=True)`` becomes append-a-transition-row;
    readers resolve the current doc with `latest_wins`. Shuffle-free
    write, hive-partitioned by ingest date so compaction and
    time-bounded reads operate per-partition at scale.
    """
    (
        transitions.withColumn("ingest_date", F.to_date("ts"))
        .write.mode("append")
        .partitionBy("ingest_date")
        .parquet(ledger_dir)
    )


def latest_wins(ledger: DataFrame, key: str = "upload_id", ts: str = "ts") -> DataFrame:
    """Current-state view (T1): last transition per upload wins.

    `groupBy(key).max_by(full row, ts)` — two-phase aggregation, so the
    per-upload winner is resolved map-side and the shuffle carries one
    row per (input partition, upload), not the whole transition history;
    no per-partition sort, and a pathologically hot upload (endless
    retries) reduces in parallel instead of pinning one window task.
    """
    row = F.struct(*[F.col(c) for c in ledger.columns])
    return (
        ledger.groupBy(key)
        .agg(F.max_by(row, F.col(ts)).alias("__row"))
        .select("__row.*")
    )


def as_of(
    ledger: DataFrame,
    cutoff,
    key: str = "upload_id",
    ts: str = "ts",
) -> DataFrame:
    """Time-travel read: the ledger state as it stood at ``cutoff``.

    The append-only transition log makes this a filter + latest-wins —
    a capability the reference's in-place Firestore mutation cannot
    offer at all (history is destroyed on update; here it is the
    storage format). With the ``ingest_date`` hive partitioning, the
    ``ts <= cutoff`` predicate prunes every partition after the cutoff
    day before any row is read.
    """
    return latest_wins(ledger.filter(F.col(ts) <= F.lit(cutoff)), key=key, ts=ts)


def _exchange_dirs(a: str, b: str) -> None:
    """Atomically swap two directories.

    Linux: renameat2(RENAME_EXCHANGE) — one syscall, so a concurrent
    reader listing `a` sees the complete old tree or the complete new
    tree, never an absent/partial directory. Elsewhere: two back-to-back
    renames (a microscopic but nonzero window where `a` is absent).
    """
    import ctypes
    import os

    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        AT_FDCWD, RENAME_EXCHANGE = -100, 2
        ret = libc.renameat2(
            AT_FDCWD, a.encode(), AT_FDCWD, b.encode(), RENAME_EXCHANGE
        )
        if ret == 0:
            return
    except (OSError, AttributeError):  # pragma: no cover - non-glibc
        pass
    # fallback: not atomic, but the absent-dir window is two renames wide
    trash = a.rstrip("/") + ".compact.old"
    os.replace(a, trash)
    os.replace(b, a)
    os.replace(trash, b)


def compact_ledger(spark: SparkSession, ledger_dir: str) -> int:
    """Compaction: rewrite the transition log as its latest-wins snapshot.

    Bounds latest-wins read cost as history grows (SCALE.md). At scale
    this runs per date-partition, keeping a history tail if auditing
    needs it; here: full rewrite via a temp dir, cut over with an
    ATOMIC directory exchange. Concurrent-read contract (pinned in
    tests/test_retry_and_compaction.py):

    - any read whose file listing happens before or after the exchange
      sees a complete ledger — never an empty or half-swapped one;
    - because compaction preserves the latest-wins state, every such
      read resolves the SAME current state, so `latest_wins`/`as_of`
      results are unchanged across the cutover;
    - a read that listed the OLD files and scans them after the old
      tree is removed fails with a clean FileNotFound (local FS has no
      MVCC); re-running the read sees the consistent new snapshot.
      Keep a retry at the call site — the same contract object stores
      give non-transactional readers during a rewrite.

    Returns rows retained.

    Note: collapsing history resets per-upload failed-attempt counts, so
    a DLQ-terminal upload becomes retryable again; production compaction
    would fold the attempt count into the snapshot row before dropping
    history.
    """
    import shutil

    ledger = read_ledger(spark, ledger_dir)
    snapshot = latest_wins(ledger)
    tmp_dir = ledger_dir.rstrip("/") + ".compact.tmp"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    upsert_append(snapshot, tmp_dir)  # same partitioned layout
    n = read_ledger(spark, tmp_dir).count()
    _exchange_dirs(ledger_dir, tmp_dir)  # atomic cutover
    shutil.rmtree(tmp_dir, ignore_errors=True)  # old history, now trash
    return n


def point_lookup(ledger: DataFrame, upload_id: str) -> DataFrame:
    """F3: ``get-upload-status?upload_id=X`` (README.md:48-52).

    The key's latest transition as a top-1 over its filtered rows
    (`orderBy(ts desc).limit(1)`, planned as TakeOrderedAndProject): no
    shuffle, one Spark job. Same columns as `latest_wins`; an unknown key
    returns no rows. The equality predicate is pushed into the Parquet
    scan (min/max row-group skipping).
    """
    return (
        ledger.filter(F.col("upload_id") == F.lit(upload_id))
        .orderBy(F.col("ts").desc())
        .limit(1)
    )


def list_uploads(ledger: DataFrame, status: str | None = None, limit: int = 10) -> DataFrame:
    """F4: ``list-uploads?status=done&limit=10`` (README.md:54-64).

    Recency-ordered listing; TakeOrderedAndProject keeps only `limit`
    rows per partition before the final merge — no global sort
    materialization.
    """
    current = latest_wins(ledger)
    if status is not None:
        current = current.filter(F.col("status") == F.lit(status))
    return current.orderBy(F.col("queued_at").desc(), F.col("upload_id")).limit(limit)
