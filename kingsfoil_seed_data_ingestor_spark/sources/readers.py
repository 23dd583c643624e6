"""Untyped file readers: CSV / TXT / XLSX / XLS → all-string DataFrame.

Read contract (mirrors reference ``app/services/file_parser.py:14-19``,
pinned by reference tests ``tests/test_file_parser.py:90-125``):

* no header is assumed — columns are positional ``_c0.._cN``;
* every cell is a string; empty cells are ``""``, never null/NaN;
* ``.csv`` retries encodings utf-8 → latin-1 → cp1252 → utf-8/replace;
* ``.txt`` sniffs the delimiter (tab vs comma vs pipe) by counting
  occurrences in the first 4 KiB;
* ``.xlsx`` / ``.xls`` are driver-read (uploads are capped at 100 MB in
  the reference, ``app/config.py:22``) then parallelized — both via
  vendored parsers of the public formats (SpreadsheetML here, BIFF8 in
  ``sources/biff.py``), no openpyxl/xlrd dependency.

Spark specifics: the CSV scan itself is distributed and splittable; the
driver only touches a small head sample (encoding probe, delimiter
sniff, column count, header scan rows). ``nullValue`` is pointed at an
unused control character so Spark's default ""→null rewrite never
fires, and ragged short rows are back-filled to ``""`` to keep the
all-string no-null invariant.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kingsfoil_seed_data_ingestor_spark.sources.grid import ROW_IDX, with_row_idx

#: encodings tried in order for .csv (reference file_parser.py:79)
CSV_ENCODINGS = ("utf-8", "latin-1", "cp1252")
#: bytes sampled for delimiter sniffing (reference file_parser.py:110)
SNIFF_BYTES = 4096
#: rows the first slice of a driver-parsed sheet holds at least: the
#: 50-row header search, then the 100-row type sample and stats head,
#: with room for the blank and quarantined rows the head skips
LOCAL_SLICE_MIN_ROWS = 256
#: bytes sampled for the encoding probe — enough to catch non-UTF-8
#: uploads in practice while staying O(1) regardless of file size.
ENCODING_PROBE_BYTES = 1 << 20
#: a value that never occurs in the data: disables Spark's ""→null
NEVER_NULL = ""

SUPPORTED_EXTENSIONS = {".csv", ".xlsx", ".xls", ".txt"}

#: Python codec name → charset name Spark's CSV reader accepts. Spark
#: has no windows-1252 decoder; iso-8859-1 is the closest superset-safe
#: charset (it maps every byte, so nothing fails — the 0x80–0x9F
#: punctuation range degrades to C1 controls, same bytes preserved).
SPARK_CHARSETS = {"utf-8": "utf-8", "latin-1": "iso-8859-1", "cp1252": "iso-8859-1"}


@dataclass(frozen=True)
class Grid:
    """A distributed untyped grid plus the driver-side facts about it."""

    df: DataFrame  # _c0.._cN all-string + row_idx long
    extension: str  # ".csv" | ".txt" | ".xlsx" | ".xls"
    encoding: str
    delimiter: str
    n_cols: int
    n_rows: int  # rows in df: the row-index job's count, or the parsed Excel rows
    head_rows: list[list[str]]  # first rows, stripped, for header scan

    def row_as_list(self, row_index: int) -> list[str]:
        """Stripped string cells of one head row (reference
        ``file_parser.py:138-152``); empty list when out of range."""
        if 0 <= row_index < len(self.head_rows):
            return self.head_rows[row_index]
        return []


def file_extension(filename: str) -> str:
    """Lowercase extension without the dot (reference file_parser.py:155-165)."""
    return Path(filename).suffix.lower().lstrip(".")


def _probe_encoding(path: str) -> str:
    """Pick the first encoding that cleanly decodes a 1 MiB head sample.

    The reference decodes the *whole* file per attempt (bounded by its
    100 MB cap); sampling keeps this O(1) for arbitrarily large files.
    Falls back to utf-8 with replacement, matching the reference's last
    resort (file_parser.py:94-101).
    """
    with open(path, "rb") as f:
        sample = f.read(ENCODING_PROBE_BYTES)
    for enc in CSV_ENCODINGS:
        try:
            sample.decode(enc)
            return enc
        except UnicodeDecodeError:
            continue
    return "utf-8"  # read with replacement chars via Spark's PERMISSIVE mode


def _sniff_delimiter(path: str, encoding: str) -> str:
    """Tab vs comma vs pipe by raw count in the first 4 KiB, ties going
    tab > pipe > comma (reference file_parser.py:104-135)."""
    with open(path, "r", encoding=encoding, errors="replace") as f:
        sample = f.read(SNIFF_BYTES)
    tabs, commas, pipes = sample.count("\t"), sample.count(","), sample.count("|")
    if tabs >= commas and tabs >= pipes:
        return "\t"
    if pipes >= commas:
        return "|"
    return ","


def _read_head(path: str, encoding: str, delimiter: str, n_rows: int) -> list[list[str]]:
    """Driver-side parse of the first ``n_rows`` records (quote-aware)."""
    rows: list[list[str]] = []
    with open(path, "r", encoding=encoding, errors="replace", newline="") as f:
        for record in csv.reader(f, delimiter=delimiter):
            rows.append([cell.strip() for cell in record])
            if len(rows) >= n_rows:
                break
    return rows


def _string_schema(n_cols: int) -> T.StructType:
    return T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n_cols)]
    )


def _spark_csv(
    spark: SparkSession, path: str, encoding: str, delimiter: str, n_cols: int
) -> tuple[DataFrame, int]:
    """The row-indexed all-string frame and its row count."""
    # One SENTINEL column beyond the inferred width: a row with more
    # than n_cols fields populates it (the "" empty-cell value included,
    # since nullValue points at an unused control char), while short or
    # exact rows leave it NULL — a distributed, quote-aware wider-row
    # detector. The row-index job counts the rows that populate it, so
    # the check needs no job of its own.
    df = (
        spark.read.schema(_string_schema(n_cols + 1))
        .options(
            header=False,
            sep=delimiter,
            encoding=SPARK_CHARSETS.get(encoding, "utf-8"),
            mode="PERMISSIVE",
            nullValue=NEVER_NULL,
            emptyValue="",
            ignoreLeadingWhiteSpace=False,
            ignoreTrailingWhiteSpace=False,
        )
        .csv(path)
    )
    sentinel = f"_c{n_cols}"
    indexed, n_rows, n_wide = with_row_idx(df, flag=F.col(sentinel).isNotNull())
    if n_wide:
        raise ValueError(
            f"Malformed file: found a row wider than the inferred "
            f"{n_cols}-column schema (head-sample inference saw at most "
            f"{n_cols} fields). The reference parser fails loudly on "
            f"ragged wide rows rather than dropping cells."
        )
    # Ragged short rows arrive as nulls under PERMISSIVE; restore the
    # "empty cell is ''" invariant columnar-side (no Python involved).
    return indexed.drop(sentinel).na.fill(""), n_rows


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_ref_to_index(ref: str) -> int:
    """``"BC12"`` → 0-based column index (54)."""
    idx = 0
    for ch in ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1


def _parse_xlsx_rows(path: str) -> list[list[str]]:
    """Minimal xlsx parse: zip + SpreadsheetML XML, no openpyxl.

    The format is public (ECMA-376): a zip whose first worksheet holds
    ``<row r="..."><c r="A1" t="s|str|inlineStr"><v>...</v></c></row>``
    with strings interned in ``xl/sharedStrings.xml``. Covers shared
    strings (rich-text runs included), inline strings, raw numeric
    text, empty cells, and omitted blank rows (gap rows materialize as
    empty so row indexes stay aligned for header detection). All cells
    come back as raw strings — the reference's all-string contract.
    """
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))
        sheets = sorted(n for n in names if n.startswith("xl/worksheets/sheet"))
        if not sheets:
            raise ValueError("xlsx contains no worksheets")
        root = ET.fromstring(z.read(sheets[0]))

        rows: list[list[str]] = []
        for row in root.iter(f"{_XLSX_NS}row"):
            r_attr = row.get("r")
            row_no = int(r_attr) if r_attr else len(rows) + 1
            while len(rows) < row_no - 1:  # omitted blank rows
                rows.append([])
            cells: dict[int, str] = {}
            for c in row.findall(f"{_XLSX_NS}c"):
                ref = c.get("r") or ""
                ci = _col_ref_to_index(ref) if ref else len(cells)
                t = c.get("t")
                if t == "inlineStr":
                    v = "".join(tt.text or "" for tt in c.iter(f"{_XLSX_NS}t"))
                else:
                    ve = c.find(f"{_XLSX_NS}v")
                    raw = ve.text if ve is not None and ve.text is not None else ""
                    v = shared[int(raw)] if t == "s" and raw != "" else raw
                cells[ci] = v
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i, "") for i in range(width)])
        return rows


def _read_xls_rows(path: str) -> list[list[str]]:
    """Driver-side legacy ``.xls`` read via the vendored BIFF8 parser
    (``sources/biff.py`` — OLE2 container + BIFF8 records, both public
    formats). Mirrors the reference's xlrd path
    (``app/services/file_parser.py:53-61``) under the same grid
    contract; no external Excel engine needed. Unsupported variants
    (pre-BIFF8, encrypted) raise a loud ValueError rather than
    misparse."""
    from kingsfoil_seed_data_ingestor_spark.sources.biff import parse_xls_grid

    with open(path, "rb") as fh:
        return parse_xls_grid(fh.read())


def _local_grid(
    spark: SparkSession, rows: list[list[str]]
) -> tuple[DataFrame, list[list[str]]]:
    """Driver-parsed rows (uploads are capped at 100 MB in the
    reference, ``app/config.py:22``) → the parallelized all-string frame
    with ``row_idx`` attached on the driver, plus the padded rows themselves
    (an empty sheet becomes one empty row). The driver already holds
    every row in file order, so neither the index nor the head needs a
    Spark job.

    The rows are sliced evenly, into as many slices as hold at least
    ``LOCAL_SLICE_MIN_ROWS`` rows each, capped at ``defaultParallelism``:
    the type sample and the stats head are ``limit`` collects that stop
    at the first slice holding their rows, so a small sheet is one slice
    and each of them one job."""
    n_cols = max((len(r) for r in rows), default=1) or 1
    norm = [r + [""] * (n_cols - len(r)) for r in rows] or [[""] * n_cols]
    schema = _string_schema(n_cols).add(ROW_IDX, T.LongType(), False)
    sc = spark.sparkContext
    slices = max(1, min(sc.defaultParallelism, len(norm) // LOCAL_SLICE_MIN_ROWS))
    rdd = sc.parallelize([(*r, i) for i, r in enumerate(norm)], slices)
    return spark.createDataFrame(rdd, schema=schema), norm


def read_grid(
    spark: SparkSession, file_path: str, head_rows: int = 50
) -> Grid:
    """Read any supported file as a distributed all-string grid.

    Returns the frame with a contiguous ``row_idx``, its row count
    (``n_rows``) and the driver-side head sample used for header
    detection (reference parse_file, ``file_parser.py:11-70``).
    """
    path = Path(file_path)
    if not path.exists():
        raise FileNotFoundError(f"File not found: {file_path}")
    ext = path.suffix.lower()
    if ext not in SUPPORTED_EXTENSIONS:
        raise ValueError(f"Unsupported file type: {ext}")

    if ext in (".xlsx", ".xls"):
        read_rows = _parse_xlsx_rows if ext == ".xlsx" else _read_xls_rows
        df, rows = _local_grid(spark, read_rows(str(path)))
        return Grid(
            df=df,
            extension=ext,
            encoding="utf-8",
            delimiter=",",
            n_cols=len(rows[0]),
            n_rows=len(rows),
            head_rows=[[v.strip() for v in r] for r in rows[:head_rows]],
        )

    encoding = _probe_encoding(str(path))
    delimiter = _sniff_delimiter(str(path), encoding) if ext == ".txt" else ","
    head = _read_head(str(path), encoding, delimiter, head_rows)
    n_cols = max((len(r) for r in head), default=1)
    df, n_rows = _spark_csv(spark, str(path), encoding, delimiter, n_cols)
    return Grid(
        df=df,
        extension=ext,
        encoding=encoding,
        delimiter=delimiter,
        n_cols=n_cols,
        n_rows=n_rows,
        head_rows=head,
    )
