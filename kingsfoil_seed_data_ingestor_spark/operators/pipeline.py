"""End-to-end ingest orchestration (reference V9/V10).

``ingest_file`` is the driver-side conductor tying the layers together
— the Spark restatement of reference ``ingest_file``
(``app/services/ingestor.py:691-783``) + the two-phase upload protocol
(``app/routers/upload.py:196-561``):

1. gates: extension whitelist, size cap, SHA-256 whole-file dedup;
2. read the untyped grid (distributed) + detect the header (driver);
3. validation pass (row counts, sampled type check);
4. version row: delete stale failed → create ``processing``, or
   resolve the append target for multi-part sources;
5. the ingest plan (typed select → quarantine split → dedup) executes
   as one Spark job tree writing partitioned facts;
6. finalize: ``completed``/``failed`` status, part bookkeeping,
   optional ``is_current`` flip, result counts.

Any exception between version creation and finalization marks the
version ``failed`` (same safety net as reference ``ingestor.py:780-783``).
"""

from __future__ import annotations

import hashlib
import time
import uuid
from pathlib import Path

from pyspark.sql import SparkSession

from kingsfoil_seed_data_ingestor_spark.operators.ingest import build_ingest_plan
from kingsfoil_seed_data_ingestor_spark.operators.validate import (
    MAX_UPLOAD_MB,
    extension_error,
    validate_grid,
)
from kingsfoil_seed_data_ingestor_spark.operators.versioning import (
    STATUS_FAILED,
    VersionStore,
)
from kingsfoil_seed_data_ingestor_spark.registry import get_source
from kingsfoil_seed_data_ingestor_spark.sources import detect_header, read_grid


def sha256_file(path: str, chunk_bytes: int = 1 << 20) -> str:
    """Whole-file content hash (reference ``upload.py:37-49``)."""
    digest = hashlib.sha256()
    with open(path, "rb") as f:
        while chunk := f.read(chunk_bytes):
            digest.update(chunk)
    return digest.hexdigest()


DEFAULT_STAGING_DIR = "/tmp/kingsfoil_uploads"
TEMP_FILE_MAX_AGE_HOURS = 24


def stage_upload(
    content: bytes, extension: str, staging_dir: str = DEFAULT_STAGING_DIR
) -> str:
    """S6 — persist uploaded bytes to the staging area under a fresh
    UUID name (reference ``upload.py:296-301``); returns the staged
    path the two upload phases share."""
    d = Path(staging_dir)
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{uuid.uuid4()}.{extension.lstrip('.')}"
    path.write_bytes(content)
    return str(path)


def cleanup_old_temp_files(
    staging_dir: str = DEFAULT_STAGING_DIR,
    max_age_hours: int = TEMP_FILE_MAX_AGE_HOURS,
) -> int:
    """S7 — delete staged uploads older than ``max_age_hours``
    (reference ``upload.py:569-588``); returns the number removed."""
    d = Path(staging_dir)
    if not d.exists():
        return 0
    cutoff = time.time() - max_age_hours * 3600
    removed = 0
    for p in d.iterdir():
        if p.is_file() and p.stat().st_mtime < cutoff:
            p.unlink(missing_ok=True)
            removed += 1
    return removed


def build_version_label(year: int, quarter: int) -> str:
    """F13 — quarterly version label (reference ``upload.py:119-123``)."""
    return f"{year}-Q{quarter}"


def quarter_effective_date(year: int, quarter: int) -> str:
    """F13 — first day of the quarter's first month
    (reference ``upload.py:125-128``)."""
    return f"{year}-{(quarter - 1) * 3 + 1:02d}-01"


def _prepare(
    spark: SparkSession,
    store: VersionStore,
    source_code: str,
    file_path: str,
    max_upload_mb: int,
):
    """Shared prefix of both upload phases: gates → parse → header
    detection → validation report. Deterministic, so the ingest phase
    re-runs it instead of trusting client-held state (the reference's
    stateless two-phase design, ``upload.py:4-7``).

    Returns ``(error_dict, None)`` or ``(None, prepared_state_dict)``.
    """
    source = get_source(source_code)
    path = Path(file_path)

    # -------- gates (reference upload.py:212-294) --------
    err = extension_error(path.name)
    if err:
        return {"success": False, "errors": [err]}, None
    if path.exists() and path.stat().st_size > max_upload_mb * 1024 * 1024:
        return {
            "success": False,
            "errors": [f"File exceeds maximum size of {max_upload_mb} MB"],
        }, None
    file_hash = sha256_file(file_path)
    dup = store.find_by_hash(source.source_code, file_hash)
    if dup is not None:
        return {
            "success": False,
            "errors": [
                f"This file was already uploaded as version "
                f"{dup['version_label']} ({dup['file_name']})"
            ],
            "duplicate_of": dup["version_id"],
        }, None

    # -------- parse + header resolution --------
    grid = read_grid(spark, file_path)
    detection = detect_header(grid.head_rows, source.header_mappings)
    if not detection.found:
        return {"success": False, "errors": [detection.error]}, None

    # -------- validation pass --------
    prev = None
    existing_current = [
        v
        for v in store._read_versions().to_dict("records")
        if v["source_code"] == source.source_code and v["status"] == "completed"
    ]
    if existing_current:
        prev = int(max(existing_current, key=lambda v: v["imported_at"] or 0)["record_count"])
    report = validate_grid(grid, source, detection, previous_record_count=prev)
    if not report.passed:
        return {
            "success": False,
            "errors": report.errors,
            "warnings": report.warnings,
        }, None

    return None, {
        "source": source,
        "path": path,
        "file_hash": file_hash,
        "grid": grid,
        "detection": detection,
        "report": report,
    }


def validate_upload(
    spark: SparkSession,
    store: VersionStore,
    source_code: str,
    file_path: str,
    version_label: str | None = None,
    variant: str | None = None,
    max_upload_mb: int = MAX_UPLOAD_MB,
) -> dict:
    """Phase 1 of the two-phase upload protocol (reference EP-1,
    ``upload.py:196-416``): run every gate and validation WITHOUT
    writing anything, and return the report plus the cross-request
    handle the reference carries as hidden form fields (file hash +
    header row). Phase 2 (``ingest_file`` with ``expected_hash``)
    re-verifies the hash and re-derives everything else.
    """
    err, prep = _prepare(spark, store, source_code, file_path, max_upload_mb)
    if err is not None:
        return err
    result = {
        "success": True,
        "errors": [],
        "warnings": prep["report"].warnings,
        "file_hash": prep["file_hash"],
        "header_row_index": prep["detection"].header_row_index,
        "record_count": prep["report"].record_count,
        "will_append": False,
        "existing_version_id": None,
    }
    if version_label is not None:
        existing = store.find_version(prep["source"].source_code, version_label, variant)
        if existing is not None and existing["status"] != STATUS_FAILED:
            if prep["source"].multipart and existing["status"] == "completed":
                result["will_append"] = True
                result["existing_version_id"] = int(existing["version_id"])
            else:
                result["success"] = False
                result["errors"] = [
                    f"Version already exists: ({prep['source'].source_code}, "
                    f"{version_label}, {variant})"
                ]
    return result


def ingest_file(
    spark: SparkSession,
    store: VersionStore,
    source_code: str,
    file_path: str,
    version_label: str,
    variant: str | None = None,
    effective_date: str | None = None,
    mark_current: bool = True,
    max_upload_mb: int = MAX_UPLOAD_MB,
    expected_hash: str | None = None,
) -> dict:
    """Ingest one file into the versioned warehouse; returns the result
    dict (counts, stats, version_id, warnings).

    ``expected_hash`` is the phase-1 handle: when given, the file's
    content hash must still match it (the reference re-verifies before
    ingesting in case the staged file changed, ``upload.py:442-470``).
    """
    err, prep = _prepare(spark, store, source_code, file_path, max_upload_mb)
    if err is not None:
        return err
    source, path = prep["source"], prep["path"]
    file_hash, grid, detection = prep["file_hash"], prep["grid"], prep["detection"]
    report = prep["report"]

    if expected_hash is not None and file_hash != expected_hash:
        return {
            "success": False,
            "errors": ["File hash mismatch — staged file changed since validation"],
        }

    # -------- version management (V1/V4/V5) --------
    existing = store.find_version(source.source_code, version_label, variant)
    appending = False
    if existing is not None:
        if existing["status"] == STATUS_FAILED:
            # stale failed load blocks re-upload → cascade-delete it
            store.delete_failed_version(int(existing["version_id"]))
        elif source.multipart and existing["status"] == "completed":
            appending = True  # NCCI_PTP multi-part: append part n+1
        else:
            return {
                "success": False,
                "errors": [
                    f"Version already exists: ({source.source_code}, "
                    f"{version_label}, {variant})"
                ],
            }
    if appending:
        version_id = int(existing["version_id"])
    else:
        version_id = store.create_version(
            source.source_code,
            version_label,
            variant=variant,
            effective_date=effective_date,
            file_name=path.name,
            file_hash=file_hash,
            file_size_bytes=path.stat().st_size,
            header_row_index=detection.header_row_index,
        )

    # -------- the Spark job tree --------
    staged = None
    try:
        plan = build_ingest_plan(grid.df, source, detection)
        # Stage first, publish after stats succeed: when appending into
        # an already-completed is_current version, nothing becomes
        # reader-visible unless the whole part (data AND bookkeeping
        # inputs) landed — a failure below rolls back to exactly the
        # pre-upload state.
        staged = store.stage_records(source, version_id, plan.records)
        stats = plan.stats()
        inserted = stats["records_inserted"]

        if appending:
            if inserted > 0:
                store.commit_staged(source, version_id, staged)
                store.add_part(version_id, inserted)
            else:
                # 0-record part: no data, no part_count bump (reference
                # only bumps when rows actually inserted)
                store.discard_staged(staged)
        elif inserted > 0:
            store.commit_staged(source, version_id, staged)
            store.complete_version(version_id, inserted)
            store.add_part(version_id, 0)  # part 1 of a fresh version
            if mark_current:
                store.mark_current(version_id)
        else:
            store.discard_staged(staged)
            store.fail_version(version_id, "No valid records found in file")

        store.log_event(
            version_id,
            "INFO",
            f"Ingestion complete: {inserted} records inserted",
            {
                "records_processed": stats["records_processed"],
                "duplicates_skipped": stats["duplicates_skipped"],
                "rows_skipped": stats["rows_skipped"],
                "quarantined": stats["records_quarantined"],
            },
        )
        stats["version_id"] = version_id
        stats["warnings"] = report.warnings
        stats["appended_part"] = appending
        return stats
    except Exception as exc:  # the reference's failure net, ingestor.py:780-783
        if staged is not None:
            store.discard_staged(staged)
        if not appending:
            store.fail_version(version_id, str(exc))
        store.log_event(version_id, "ERROR", f"Ingestion failed: {exc}", {})
        raise
