"""Pre-ingest validation gates (reference ``app/services/validator.py``).

Driver-cheap checks run between header detection and the ingest job:

* extension whitelist + file-size cap (pure driver logic);
* data-rows-exist;
* row-count sanity vs the previous completed upload (warn outside
  0.5×–1.5×, reference ``validator.py:49-79``);
* sampled type validation — first 100 data rows, first offending value
  per NUMERIC/INTEGER/DATE column (reference ``validator.py:90-175``).

The type scan is the one piece that touches data. Instead of the
reference's nested Python loops it is **one bounded collect**: the rows
with ``row_idx`` in ``(header, header + sample]`` (``row_idx`` is
contiguous, so a filter picks the first data rows with no sort), each
projected to one ``(row, value)`` probe per checked column that is set
only on an unparsable cell, under a ``limit`` of the sample size. The
grid has no exchange, so the collect reads partitions in file order and
stops once it holds the whole sample; the driver then takes, per
column, the probe with the smallest row — the first bad value. The
filter alone fixes which rows are in the sample, so the result is exact
whatever order the scan returns them in. The data-row count comes from
the grid's ``n_rows``, which the read already counted, so it costs no
job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from kingsfoil_seed_data_ingestor_spark.functions import transforms as X
from kingsfoil_seed_data_ingestor_spark.registry import Source
from kingsfoil_seed_data_ingestor_spark.sources.headers import HeaderDetection
from kingsfoil_seed_data_ingestor_spark.sources.readers import Grid

#: reference ``app/config.py:25-26``
ALLOWED_EXTENSIONS = ("csv", "xlsx", "xls", "txt")
MAX_UPLOAD_MB = 100
#: reference ``validator.py:96``
TYPE_SAMPLE_ROWS = 100
#: values the sampled type check ignores (reference ``validator.py:152``)
_SKIP = ("*", "", "NULL", "N/A")


def extension_error(filename: str, allowed=ALLOWED_EXTENSIONS) -> str | None:
    """P8 — whitelist check; returns an error message or None."""
    if not filename:
        return "No filename provided"
    ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else ""
    if not ext:
        return "File has no extension"
    if ext not in allowed:
        return f"File type '.{ext}' not supported. Allowed: {', '.join(allowed)}"
    return None


@dataclass
class ValidationReport:
    passed: bool
    errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    record_count: int = 0  # data rows after the header (upload.py:363)


def validate_grid(
    grid: Grid,
    source: Source,
    detection: HeaderDetection,
    previous_record_count: int | None = None,
    sample_rows: int = TYPE_SAMPLE_ROWS,
) -> ValidationReport:
    """Run the post-header-detection validation pass."""
    report = ValidationReport(passed=True)

    data_rows = max(grid.n_rows - detection.header_row_index - 1, 0)
    report.record_count = data_rows
    if data_rows <= 0:
        report.errors.append("No data rows found after header row")
        report.passed = False
        return report

    if previous_record_count:
        if data_rows < previous_record_count * 0.5:
            report.warnings.append(
                f"Row count ({data_rows:,}) is much lower than previous upload "
                f"({previous_record_count:,}). Please verify this is the correct file."
            )
        elif data_rows > previous_record_count * 1.5:
            report.warnings.append(
                f"Row count ({data_rows:,}) is much higher than previous upload "
                f"({previous_record_count:,}). This may be expected for a new version."
            )

    report.warnings.extend(_sample_type_warnings(grid.df, source, detection, sample_rows))
    return report


def _sample_type_warnings(
    df: DataFrame, source: Source, detection: HeaderDetection, sample_rows: int
) -> list[str]:
    """First offending raw value per numeric/date column in the sample.

    One bounded collect of the first ``sample_rows`` data rows, each
    reduced to one probe per checked column — a ``(row, value)`` struct
    on an unparsable cell, null otherwise — then the probe with the
    smallest row per column on the driver: the earliest failure,
    matching the reference's first-hit-then-stop loop. Each probe is
    one SQL string, so the whole sample costs a handful of py4j round
    trips to build instead of a Column chain of hundreds per column.
    """
    checks: list[tuple[str, str, int]] = []  # (internal_name, kind, column)
    for name, idx in detection.column_index.items():
        dtype = source.column(name).data_type
        if dtype in ("NUMERIC", "INTEGER"):
            checks.append((name, "numeric", idx))
        elif dtype == "DATE":
            checks.append((name, "date", idx))
    if not checks:
        return []

    h = detection.header_row_index
    probes = []
    for name, kind, idx in checks:
        raw = f"_c{idx}"
        trimmed = X.strip_ws.sql(raw)
        parsed = X.parse_numeric.sql(raw) if kind == "numeric" else X.parse_date.sql(raw)
        bad = f"{trimmed} IS NOT NULL AND NOT ({X.sql_in(trimmed, _SKIP)}) AND ({parsed}) IS NULL"
        probes.append(
            f"CASE WHEN {bad} THEN named_struct('row_idx', row_idx, 'val', {trimmed}) END"
            f" AS {X.sql_ident(name)}"
        )
    sample = (
        df.filter(f"row_idx >= {h + 1} AND row_idx <= {h + sample_rows}")
        .selectExpr(*probes)
        .limit(sample_rows)
        .collect()
    )

    warnings = []
    for name, kind, _ in checks:
        hits = [r[name] for r in sample if r[name] is not None]
        if hits:
            hit = min(hits, key=lambda p: p["row_idx"])
            noun = "non-numeric value" if kind == "numeric" else "unparseable date"
            warnings.append(
                f"Column '{name}' contains {noun} '{hit['val']}' at row {hit['row_idx'] + 1}"
            )
    return warnings
