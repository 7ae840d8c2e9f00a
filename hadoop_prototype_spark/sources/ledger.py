"""Incremental batch ingestion: a file ledger for "process only what's
new since the last run".

A recurring corpus pipeline (daily crawl drops, hourly event dumps) must
not reprocess 100 TB because 100 GB arrived. Structured Streaming's file
source solves this natively (readStream + checkpoint — the engine's
preferred shape, see streaming/); this module is the BATCH counterpart
for jobs that run under an external scheduler: a parquet ledger of
already-processed file names, an anti-join against the current listing,
and a crash-safe commit.

Crash safety: the ledger only advances in commit_ledger, which the
caller invokes AFTER its processing lands durably. A crash between
processing and commit reprocesses the batch (at-least-once, the right
default for idempotent writes); the ledger file itself swaps via
write-new-then-rename so a crash mid-commit can never leave a torn
ledger (the swap is a single rename).

Scale note: the listing and ledger are file-count-sized (metadata, not
data); the anti-join runs driver-side over names only. The returned
DataFrame reads just the new files, so the scan cost is proportional to
the increment.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

# Orphaned-staging sweep threshold: a commit writes its staging dir in
# seconds, so anything this old is a crash leftover, not a live writer.
STAGING_SWEEP_AGE_SEC = 15 * 60


def _ledger_file(ledger_path: str) -> str:
    return os.path.join(ledger_path, "processed.parquet")


def processed_files(spark: SparkSession, ledger_path: str) -> list[str]:
    """File names already committed to the ledger (empty on first run)."""
    f = _ledger_file(ledger_path)
    if not os.path.exists(f):
        return []
    return [r.file for r in spark.read.parquet(f).collect()]


def new_files(spark: SparkSession, data_path: str, ledger_path: str) -> list[str]:
    """Files under ``data_path`` not yet committed, sorted for stable
    batch identity."""
    current = sorted(glob.glob(os.path.join(data_path, "*.parquet")))
    seen = set(processed_files(spark, ledger_path))
    return [f for f in current if f not in seen]


def ingest_new_files(
    spark: SparkSession, data_path: str, ledger_path: str
) -> tuple[DataFrame | None, list[str]]:
    """(DataFrame over only the new files, their names) — None when
    nothing is new. Call commit_ledger(names) after the batch's outputs
    are durable."""
    fresh = new_files(spark, data_path, ledger_path)
    if not fresh:
        return None, []
    return spark.read.parquet(*fresh), fresh


def commit_ledger(spark: SparkSession, ledger_path: str, files: list[str]) -> None:
    """Append ``files`` to the ledger atomically: write the merged set to
    a staging file, then one rename. Re-committing a name is idempotent
    (the set union dedupes)."""
    if not files:
        return
    os.makedirs(ledger_path, exist_ok=True)
    # sweep staging dirs orphaned by a previous crashed commit — each
    # commit uses a fresh uuid, so without this they accumulate forever.
    # Only dirs older than STAGING_SWEEP_AGE_SEC are swept: a concurrent
    # commit's staging dir (two pipelines sharing a ledger, an overlapping
    # scheduler run) is seconds old and must not be deleted mid-write.
    now = time.time()
    for stale in glob.glob(os.path.join(ledger_path, "_staging_*")):
        try:
            age = now - os.path.getmtime(stale)
        except OSError:
            continue  # racing commit finished and removed it — nothing to sweep
        if age > STAGING_SWEEP_AGE_SEC:
            shutil.rmtree(stale, ignore_errors=True)
    merged = sorted(set(processed_files(spark, ledger_path)) | set(files))
    staging = os.path.join(ledger_path, f"_staging_{uuid.uuid4().hex}")
    spark.createDataFrame([(f,) for f in merged], "file string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    os.replace(part, _ledger_file(ledger_path))
    shutil.rmtree(staging, ignore_errors=True)
