"""Seeded CMS upload files covering the FIXTURES.md quirk matrix, with
the outcome each file must have.

Every file carries 1-3 preamble rows before its header, header
synonyms, an extra unmapped column, blank and >=80%-empty rows, the
sentinels ``*``, ``N/A``, ``NULL`` and ``""``, ``1,234.56``-style
numbers, leading-zero codes, duplicate keys, null keys, quoted commas
and whitespace-padded or lower-case codes. The set is two quarterly
PFS_RVU CSV versions, a two-part tab-delimited NCCI_PTP append,
an HCPCS XLSX and PFS_GPCI CSV.

The generator knows each row's fate as it writes it, so every
``Upload`` carries the expected inserted, quarantined, duplicate and
skipped counts, the rows its view holds afterwards and the typed cell
values of a sample of the inserted rows. Those are the workload's output
checks; nothing here calls the package.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import random
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

#: rows per file at scale 1.0
SIZES = {
    "PFS_GPCI": 120,
    "HCPCS": 600,
    "PFS_RVU": 5000,
    "NCCI_PTP": 5000,
}
#: share of data rows per quirk
DUP_RATE = 0.02
NULL_KEY_RATE = 0.01
BLANK_RATE = 0.01
SPARSE_RATE = 0.01
SENTINEL_RATE = 0.03
#: typed-cell samples kept per upload, each inserted row drawn with
#: this probability
SAMPLES = 8
SAMPLE_RATE = 0.05

PREAMBLE = [
    "Medicare physician fee schedule release",
    "Generated 2024-01-05; do not edit",
    "Contains public domain data",
]
NULL_KEYS = ["", "NULL", "N/A", "   "]
NUM_SENTINELS = ["*", "N/A", "NULL", ""]
TEXT_SENTINELS = ["N/A", "NULL", ""]
WORDS = ["office", "visit", "new", "established", "patient", "x-ray", "chest",
         "injection", "therapy", "level", "minor", "procedure", "repair"]

# (internal name or None for an unmapped column, header spellings, kind)
SPECS = {
    "PFS_RVU": [
        ("hcpcs_code", ("HCPCS", "HCPC", "CPT"), "code"),
        ("modifier", ("MOD", "MODIFIER"), "text_key"),
        ("description", ("DESCRIPTION", "DESC"), "text"),
        (None, ("NOTES",), "extra"),
        ("status_code", ("STATUS CODE", "STATUS"), "code"),
        ("work_rvu", ("WORK RVU", "WRVU"), "num"),
        ("non_fac_pe_rvu", ("NON-FAC PE RVU", "NON-FACILITY PE RVU"), "num"),
        ("facility_pe_rvu", ("FAC PE RVU", "FACILITY PE RVU"), "num"),
        ("mp_rvu", ("MP RVU", "MALPRACTICE RVU"), "num"),
        ("non_fac_total", ("NON-FAC TOTAL", "NF TOTAL"), "num"),
        ("facility_total", ("FAC TOTAL", "FACILITY TOTAL"), "num"),
        ("pctc_indicator", ("PCTC IND", "PC/TC IND"), "text"),
        ("global_days", ("GLOB DAYS", "GLOBAL DAYS"), "text"),
        ("conversion_factor", ("CONV FACTOR", "CONVERSION FACTOR"), "num"),
    ],
    "PFS_GPCI": [
        ("mac_locality", ("MAC LOCALITY",), "text_key"),
        ("locality_name", ("LOCALITY NAME", "NAME"), "text"),
        ("work_gpci", ("WORK GPCI", "PW GPCI"), "gpci"),
        ("pe_gpci", ("PE GPCI",), "gpci"),
        ("mp_gpci", ("MP GPCI", "PLI GPCI"), "gpci"),
        (None, ("REMARKS",), "extra"),
    ],
    "HCPCS": [
        ("hcpcs_code", ("HCPC", "HCPCS"), "code"),
        ("short_description", ("SHORT DESCRIPTION", "SHORT DESC"), "text"),
        ("long_description", ("LONG DESCRIPTION",), "text"),
        ("add_date", ("ADD DT", "ADD DATE"), "date"),
        ("effective_date", ("ACT EFF DT", "EFFECTIVE DATE"), "date"),
        ("termination_date", ("TERM DT", "TERMINATION DATE"), "date"),
        ("betos_code", ("BETOS",), "code"),
        ("coverage_code", ("COV", "COVERAGE"), "code"),
        (None, ("INTERNAL USE",), "extra"),
    ],
    "NCCI_PTP": [
        ("comprehensive_code", ("Column 1", "Column1"), "code"),
        ("component_code", ("Column 2", "Column2"), "code"),
        ("prior_1996_flag", ("*=in existence prior to 1996", "PRIOR 1996"), "flag"),
        ("effective_date", ("Effective Date", "EFF DATE"), "date"),
        ("deletion_date", ("Deletion Date", "DEL DATE"), "date"),
        ("modifier_indicator", ("Modifier 0=not allowed 1=allowed 9=N/A", "MODIFIER"),
         "modind"),
        ("rationale", ("PTP Edit Rationale", "Rationale"), "text"),
        (None, ("Source Note",), "extra"),
    ],
}
KEYS = {
    "PFS_RVU": ("hcpcs_code", "modifier"),
    "PFS_GPCI": ("mac_locality",),
    "HCPCS": ("hcpcs_code",),
    "NCCI_PTP": ("comprehensive_code", "component_code"),
}


@dataclass
class Upload:
    """One file to ingest and what ingesting it must produce."""

    source_code: str
    path: Path
    version_label: str
    variant: str | None
    #: data rows after the header (the validation pass's record count)
    data_rows: int
    expected: dict
    #: ``{key: {column: typed value}}`` for a sample of inserted rows
    typed: dict = field(default_factory=dict)
    #: the view this upload changes holds this many rows afterwards
    view_rows: int = 0


def _code(rng, i: int) -> str:
    """A HCPCS-like code: numeric with leading zeros or letter+4 digits."""
    if i % 3 == 0:
        return f"{chr(65 + rng.randrange(0, 26))}{rng.randrange(0, 10000):04d}"
    return f"{rng.randrange(0, 100000):05d}"


def _distinct(rng, n: int, make) -> list:
    seen, out = set(), []
    i = 0
    while len(out) < n:
        k = make(i)
        i += 1
        if k not in seen:
            seen.add(k)
            out.append(k)
    return out


def _key_values(rng, source: str, n: int) -> list[tuple]:
    if source == "PFS_RVU":
        mods = ["26", "TC", "53", "59", "00"]
        return _distinct(rng, n, lambda i: (_code(rng, i), rng.choice(mods)))
    if source == "PFS_GPCI":
        return _distinct(rng, n, lambda i: (f"{rng.randrange(0, 10**7):07d}",))
    if source == "NCCI_PTP":
        return _distinct(rng, n, lambda i: (_code(rng, i), _code(rng, i + 1)))
    return _distinct(rng, n, lambda i: (_code(rng, i),))


def _render_key(rng, kind: str, value: str) -> str:
    r = rng.random()
    if kind == "code" and r < 0.1:
        return value.lower()
    if r < 0.2:
        return f"  {value} "
    return value


def _text(rng, comma: bool) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randrange(2, 5))]
    if comma:
        words[0] += ","
    return " ".join(words)


def _date(rng) -> tuple[str, dt.date]:
    d = dt.date(1996, 1, 1) + dt.timedelta(days=rng.randrange(0, 10000))
    return d.strftime("%Y%m%d"), d


def _cell(rng, kind: str, txt: bool) -> tuple[str, object]:
    """``(raw cell, typed value)`` for a non-key column of ``kind``;
    ``txt`` files (tab-delimited and XLSX) get no comma-formatted cells."""
    sentinel = rng.random() < SENTINEL_RATE
    if kind == "code":
        if sentinel:
            return rng.choice(TEXT_SENTINELS), None
        v = f"{chr(65 + rng.randrange(0, 26))}{rng.randrange(0, 10)}"
        return _render_key(rng, "code", v), v
    if kind in ("text", "extra"):
        if sentinel:
            return rng.choice(TEXT_SENTINELS), None
        if rng.random() < 0.03:
            return "*", "*"
        v = _text(rng, comma=not txt and rng.random() < 0.3)
        return (f" {v}  " if rng.random() < 0.1 else v), v
    if kind in ("num", "gpci"):
        if sentinel:
            return rng.choice(NUM_SENTINELS), None
        hi = 1.3 if kind == "gpci" else (3000.0 if rng.random() < 0.05 else 60.0)
        v = round((rng.uniform(0.5 if kind == "gpci" else 0.0, hi)), 2)
        raw = f"{v:,.2f}" if (v >= 1000 and not txt) else f"{v:.2f}"
        return raw, float(raw.replace(",", ""))
    if kind == "date":
        if sentinel:
            return rng.choice(["*", ""]), None
        return _date(rng)
    if kind == "flag":
        return ("*", True) if rng.random() < 0.4 else ("", False)
    if kind == "modind":
        v = rng.choice([0, 1, 9])
        return str(v), v
    raise ValueError(kind)


def build_file(rng, source: str, n_rows: int, keys: list[tuple], delimiter: str | None):
    """``(rows, data rows, counts, typed samples)`` for one file of
    ``source``; ``delimiter`` None means XLSX."""
    spec = SPECS[source]
    key_cols = KEYS[source]
    width = len(spec)
    headers = [rng.choice(h) for _, h, _ in spec]
    pre = [[PREAMBLE[i]] + [""] * (width - 1) for i in range(rng.randrange(1, 4))]
    rows = pre + [headers]
    counts = {"inserted": 0, "quarantined": 0, "duplicates": 0, "skipped": 0}
    inserted_keys: list[tuple] = []
    typed: dict = {}
    next_key = 0
    # Spark's CSV reader treats a tab-delimited line holding nothing but
    # tabs as a blank line and drops it, so in a TXT file such a row is
    # neither a data row nor a skipped row. (CSV rows of bare commas and
    # omitted XLSX rows are read and counted as skipped.)
    txt_blank_dropped = delimiter == "\t"
    dropped = 0
    for _ in range(n_rows):
        r = rng.random()
        if r < BLANK_RATE:
            rows.append([""] * width)
            if txt_blank_dropped:
                dropped += 1
            else:
                counts["skipped"] += 1
            continue
        if r < BLANK_RATE + SPARSE_RATE:
            row = [""] * width
            row[rng.randrange(0, width)] = "x"
            rows.append(row)
            counts["skipped"] += 1
            continue
        values, raw = {}, []
        for name, _, kind in spec:
            if name in key_cols:
                raw.append(None)
            else:
                cell, v = _cell(rng, kind, delimiter != ",")
                raw.append(cell)
                if name is not None:
                    values[name] = v
        if r < BLANK_RATE + SPARSE_RATE + NULL_KEY_RATE:
            key, null_at = keys[0], key_cols[rng.randrange(0, len(key_cols))]
            counts["quarantined"] += 1
        elif r < BLANK_RATE + SPARSE_RATE + NULL_KEY_RATE + DUP_RATE and inserted_keys:
            key, null_at = inserted_keys[rng.randrange(0, len(inserted_keys))], None
            counts["duplicates"] += 1
        elif next_key < len(keys):
            key, null_at = keys[next_key], None
            next_key += 1
            counts["inserted"] += 1
            inserted_keys.append(key)
            # the first inserted row is always sampled, so no file is
            # left without typed cells to check
            if len(typed) < SAMPLES and (rng.random() < SAMPLE_RATE or not typed):
                typed[key] = {**values, **dict(zip(key_cols, key))}
        else:
            continue
        for i, (name, _, kind) in enumerate(spec):
            if name in key_cols:
                if name == null_at:
                    raw[i] = rng.choice(NULL_KEYS)
                else:
                    raw[i] = _render_key(rng, kind, key[key_cols.index(name)])
        rows.append(raw)
    # an XLSX omits all-empty trailing rows entirely, so none is written
    while not any(rows[-1]):
        rows.pop()
        if txt_blank_dropped:
            dropped -= 1
        else:
            counts["skipped"] -= 1
    data_rows = len(rows) - len(pre) - 1 - dropped
    return rows, data_rows, counts, typed


def write_delimited(path: Path, rows: list[list[str]], delimiter: str) -> None:
    buf = io.StringIO()
    csv.writer(buf, delimiter=delimiter, lineterminator="\n").writerows(rows)
    path.write_text(buf.getvalue())


def _col_name(i: int) -> str:
    name, i = "", i + 1
    while i:
        i, rem = divmod(i - 1, 26)
        name = chr(65 + rem) + name
    return name


def _xml_escape(v: str) -> str:
    return v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path: Path, rows: list[list[str]]) -> None:
    """Minimal one-sheet OOXML workbook (shared strings, digit-only
    cells as numbers, all-empty rows omitted); fixed zip timestamps so
    the same rows give the same bytes."""
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    strings: dict[str, int] = {}
    out = []
    for rn, row in enumerate(rows, start=1):
        if not any(row):
            continue
        cells = []
        for ci, v in enumerate(row):
            ref = f"{_col_name(ci)}{rn}"
            if v == "":
                continue
            if v.isdigit():
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                idx = strings.setdefault(v, len(strings))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        out.append(f'<row r="{rn}">{"".join(cells)}</row>')
    sheet = f'<?xml version="1.0"?><worksheet {ns}><sheetData>{"".join(out)}</sheetData></worksheet>'
    sst = (
        f'<?xml version="1.0"?><sst {ns} count="{len(strings)}">'
        + "".join(f'<si><t xml:space="preserve">{_xml_escape(s)}</t></si>' for s in strings)
        + "</sst>"
    )
    wb = (f'<?xml version="1.0"?><workbook {ns}><sheets>'
          '<sheet name="Sheet1" sheetId="1"/></sheets></workbook>')
    ct = ('<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/'
          'package/2006/content-types"><Default Extension="xml" '
          'ContentType="application/xml"/></Types>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in [("[Content_Types].xml", ct), ("xl/workbook.xml", wb),
                           ("xl/worksheets/sheet1.xml", sheet),
                           ("xl/sharedStrings.xml", sst)]:
            z.writestr(zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0)), body)


#: upload order: (source, file name, version label, variant). The first
#: two (a CSV and the XLSX, which takes the driver-side parse path) are
#: the workload's warm-up; the TXT files share the CSV reader.
PLAN = [
    ("PFS_GPCI", "pfs_gpci.csv", "2024-Q1", None),
    ("HCPCS", "hcpcs.xlsx", "2024-Q1", None),
    ("PFS_RVU", "pfs_rvu_2024q1.csv", "2024-Q1", None),
    ("NCCI_PTP", "ncci_ptp_part1.txt", "2024-Q1", "practitioner"),
    ("NCCI_PTP", "ncci_ptp_part2.txt", "2024-Q1", "practitioner"),
    ("PFS_RVU", "pfs_rvu_2024q2.csv", "2024-Q2", None),
]


def generate(out_dir: Path, seed: int, scale: float = 1.0) -> list[Upload]:
    """Write one cycle's upload files into ``out_dir``; returns them in
    upload order with their expected outcomes."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = random.Random(f"cms-{seed}")
    sizes = {k: max(20, int(v * scale)) for k, v in SIZES.items()}
    # PTP parts share one key draw so part 2 never repeats a part-1 key
    ptp_keys = _key_values(rng, "NCCI_PTP", 2 * sizes["NCCI_PTP"])
    uploads: list[Upload] = []
    view_rows: dict[str, int] = {}
    for i, (source, name, label, variant) in enumerate(PLAN):
        n = sizes[source]
        if source == "NCCI_PTP":
            part = 0 if name.endswith("part1.txt") else 1
            keys = ptp_keys[part * n:(part + 1) * n]
        else:
            keys = _key_values(rng, source, n)
        path = out_dir / name
        delimiter = {".csv": ",", ".txt": "\t"}.get(path.suffix)
        rows, data_rows, counts, typed = build_file(rng, source, n, keys, delimiter)
        if delimiter is None:
            write_xlsx(path, rows)
        else:
            write_delimited(path, rows, delimiter)
        appends = source == "NCCI_PTP" and name.endswith("part2.txt")
        view_rows[source] = view_rows.get(source, 0) * appends + counts["inserted"]
        uploads.append(Upload(
            source_code=source, path=path, version_label=label, variant=variant,
            data_rows=data_rows, expected=counts, typed=typed,
            view_rows=view_rows[source],
        ))
    return uploads
