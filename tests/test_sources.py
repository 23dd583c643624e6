"""Sources layer: untyped grid readers + header detection.

Ports the observable behaviors the reference pins in
``tests/test_file_parser.py`` and ``tests/test_header_detector.py``
(citations inline) onto the Spark-first implementations.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kingsfoil_seed_data_ingestor_spark.sources import (
    detect_header,
    file_extension,
    read_grid,
)
from kingsfoil_seed_data_ingestor_spark.sources.grid import with_row_idx

MAPPINGS = {
    "hcpcs_code": {"headers": ["HCPCS", "HCPC", "CPT"], "is_required": True},
    "description": {"headers": ["DESCRIPTION", "DESC"], "is_required": False},
    "work_rvu": {"headers": ["WORK RVU", "WRVU"], "is_required": False},
}


def grid_rows(grid):
    """Collect the distributed grid back in file order as cell lists."""
    cols = [c for c in grid.df.columns if c.startswith("_c")]
    rows = grid.df.orderBy("row_idx").select(*cols).collect()
    return [[r[c] for c in cols] for r in rows]


# ----------------------------------------------------------------------
# readers
# ----------------------------------------------------------------------


def test_csv_all_strings_preserves_leading_zeros(spark, tmp_path):
    # reference tests/test_file_parser.py:90-107
    p = tmp_path / "codes.csv"
    p.write_text("HCPCS,VALUE\n00100,5\n0012A,7\n")
    grid = read_grid(spark, str(p))
    rows = grid_rows(grid)
    assert rows[1][0] == "00100"
    assert rows[2][0] == "0012A"
    assert all(isinstance(c, str) for row in rows for c in row)


def test_csv_empty_cells_stay_empty_string(spark, tmp_path):
    # reference tests/test_file_parser.py:109-125 — "" not NaN/null
    p = tmp_path / "gaps.csv"
    p.write_text("A,B,C\n1,,3\n,,\n")
    grid = read_grid(spark, str(p))
    rows = grid_rows(grid)
    assert rows[1] == ["1", "", "3"]
    assert rows[2] == ["", "", ""]


def test_csv_quoted_commas(spark, tmp_path):
    # reference tests/test_file_parser.py:41-55
    p = tmp_path / "quoted.csv"
    p.write_text('CODE,DESC\nA1,"injection, intramuscular"\n')
    grid = read_grid(spark, str(p))
    assert grid_rows(grid)[1] == ["A1", "injection, intramuscular"]


def test_txt_tab_delimiter_sniff(spark, tmp_path):
    # reference tests/test_file_parser.py:57-71
    p = tmp_path / "data.txt"
    p.write_text("CODE\tDESC\nA1\tfoo\nB2\tbar\n")
    grid = read_grid(spark, str(p))
    assert grid.delimiter == "\t"
    assert grid_rows(grid)[2] == ["B2", "bar"]


def test_txt_pipe_delimiter_sniff(spark, tmp_path):
    p = tmp_path / "data.txt"
    p.write_text("CODE|DESC\nA1|foo\n")
    grid = read_grid(spark, str(p))
    assert grid.delimiter == "|"
    assert grid_rows(grid)[1] == ["A1", "foo"]


def test_missing_file_and_unsupported_ext(spark, tmp_path):
    # reference tests/test_file_parser.py:73-88
    with pytest.raises(FileNotFoundError):
        read_grid(spark, str(tmp_path / "nope.csv"))
    p = tmp_path / "data.parquet"
    p.write_text("x")
    with pytest.raises(ValueError):
        read_grid(spark, str(p))


def test_latin1_encoding_fallback(spark, tmp_path):
    # reference file_parser.py:73-101 — utf-8 → latin-1 fallback
    p = tmp_path / "enc.csv"
    p.write_bytes("CODE,DESC\nA1,caf\xe9\n".encode("latin-1"))
    grid = read_grid(spark, str(p))
    assert grid.encoding == "latin-1"
    assert grid_rows(grid)[1] == ["A1", "café"]


def test_ragged_rows_backfilled_to_empty(spark, tmp_path):
    p = tmp_path / "ragged.csv"
    p.write_text("A,B,C\n1,2\n4,5,6\n")
    grid = read_grid(spark, str(p))
    assert grid_rows(grid)[1] == ["1", "2", ""]


def test_ragged_wider_row_fails_loudly(spark, tmp_path):
    # a row beyond the head sample carrying MORE fields than the
    # inferred schema must raise (reference pandas read_csv behavior),
    # never silently drop the extra cells
    p = tmp_path / "wide.csv"
    lines = ["A,B", "1,2"] + ["x,y"] * 60 + ["too,many,fields"]
    p.write_text("\n".join(lines) + "\n")
    with pytest.raises(ValueError, match="wider than the inferred"):
        read_grid(spark, str(p))


def write_xlsx(path, rows, shared_strings=True):
    """Minimal OOXML workbook writer for fixtures (zipfile + XML only —
    deliberately independent of the reader's parser)."""
    import zipfile

    def col_name(i):
        name = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            name = chr(65 + rem) + name
        return name

    strings: list[str] = []

    def cell_xml(r, ci, v):
        ref = f"{col_name(ci)}{r}"
        if v == "":
            return f'<c r="{ref}"/>'
        is_num = v.replace(".", "", 1).replace("-", "", 1).isdigit()
        if is_num:
            return f'<c r="{ref}"><v>{v}</v></c>'
        if shared_strings:
            if v not in strings:
                strings.append(v)
            return f'<c r="{ref}" t="s"><v>{strings.index(v)}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    sheet_rows = []
    for rn, row in enumerate(rows, start=1):
        if row is None:
            continue  # omitted blank row (no <row> element at all)
        cells = "".join(cell_xml(rn, ci, v) for ci, v in enumerate(row))
        sheet_rows.append(f'<row r="{rn}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        + "".join(sheet_rows)
        + "</sheetData></worksheet>"
    )
    sst = (
        f'<?xml version="1.0"?><sst {ns} count="{len(strings)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    ct = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/'
        'package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/>'
        "</Types>"
    )
    wb = (
        f'<?xml version="1.0"?><workbook {ns}><sheets>'
        '<sheet name="Sheet1" sheetId="1"/></sheets></workbook>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        if shared_strings and strings:
            z.writestr("xl/sharedStrings.xml", sst)


def test_xlsx_grid_contract(spark, tmp_path):
    # shared strings, inline numbers, empty cells, an omitted blank
    # row, ragged widths — every cell must come back as a string, empty
    # cells as "" (never null/NaN), row indexes preserved across gaps
    p = tmp_path / "wb.xlsx"
    write_xlsx(
        p,
        [
            ["Code", "Value", "Note"],
            ["00100", "1234.56", ""],
            None,  # blank row omitted from the XML entirely
            ["0012A", "7", "quoted, text"],
        ],
    )
    grid = read_grid(spark, str(p))
    rows = grid_rows(grid)
    assert rows[0] == ["Code", "Value", "Note"]
    assert rows[1] == ["00100", "1234.56", ""]
    assert rows[2] == ["", "", ""]  # the gap row materialized
    assert rows[3] == ["0012A", "7", "quoted, text"]
    assert grid.n_cols == 3 and grid.extension == ".xlsx"
    assert all(isinstance(v, str) for r in rows for v in r)


def test_xlsx_inline_strings_variant(spark, tmp_path):
    p = tmp_path / "inline.xlsx"
    write_xlsx(p, [["A", "B"], ["x", "y"]], shared_strings=False)
    assert grid_rows(read_grid(spark, str(p)))[1] == ["x", "y"]


# ----------------------------------------------------------------------
# legacy .xls (BIFF8) — fixture hand-assembled per the public MS-CFB +
# MS-XLS specs (no xls writer ships in this container, so the bytes are
# built record by record; the reader is an independent implementation
# of the same specs, parsing CFB FAT/miniFAT chains and BIFF8 records
# it never sees at write time)
# ----------------------------------------------------------------------


def _biff_rec(rid, payload):
    import struct

    return struct.pack("<HH", rid, len(payload)) + payload


def _biff_bof(dt):
    import struct

    return _biff_rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0))


def _build_workbook_stream(rows):
    """BIFF8 stream: globals (SST + BOUNDSHEET) + one sheet substream.
    Strings intern into the SST (latin-1 compressed or UTF-16 as
    needed); ints become RK records, floats NUMBER, "" BLANK."""
    import struct

    strings: list[str] = []
    sheet = bytearray(_biff_bof(0x0010))
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if isinstance(v, str):
                if v == "":
                    sheet += _biff_rec(0x0201, struct.pack("<HHH", r, c, 0))
                else:
                    if v not in strings:
                        strings.append(v)
                    sheet += _biff_rec(
                        0x00FD, struct.pack("<HHHI", r, c, 0, strings.index(v))
                    )
            elif isinstance(v, int) and -(1 << 29) <= v < (1 << 29):
                sheet += _biff_rec(0x027E, struct.pack("<HHHi", r, c, 0, (v << 2) | 0x02))
            else:
                sheet += _biff_rec(0x0203, struct.pack("<HHHd", r, c, 0, float(v)))
    sheet += _biff_rec(0x000A, b"")

    def sst_entry(s):
        if all(ord(ch) < 256 for ch in s):
            return struct.pack("<HB", len(s), 0x00) + s.encode("latin-1")
        return struct.pack("<HB", len(s), 0x01) + s.encode("utf-16-le")

    sst_payload = struct.pack("<II", len(strings), len(strings)) + b"".join(
        sst_entry(s) for s in strings
    )
    name = "Sheet1"
    bs_payload = (
        struct.pack("<IBB", 0, 0, 0)
        + struct.pack("<BB", len(name), 0)
        + name.encode("latin-1")
    )
    glob = bytearray(_biff_bof(0x0005))
    glob += _biff_rec(0x00FC, sst_payload)
    glob += _biff_rec(0x0085, bs_payload)
    glob += _biff_rec(0x000A, b"")
    # patch the BOUNDSHEET's sheet-start offset now that globals is sized
    off_bs = len(_biff_bof(0x0005)) + 4 + len(sst_payload) + 4
    stream = glob + sheet
    struct.pack_into("<I", stream, off_bs, len(glob))
    return bytes(stream)


def _cfb_dirent(name, typ, start, size, child=0xFFFFFFFF):
    import struct

    nb = (name + "\0").encode("utf-16-le")
    e = bytearray(128)
    e[0 : len(nb)] = nb
    struct.pack_into("<H", e, 64, len(nb))
    e[66] = typ
    e[67] = 1  # black
    struct.pack_into("<I", e, 68, 0xFFFFFFFF)  # left sibling
    struct.pack_into("<I", e, 72, 0xFFFFFFFF)  # right sibling
    struct.pack_into("<I", e, 76, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def _cfb_header(n_fat_sectors, first_dir, first_minifat, n_minifat):
    import struct

    hdr = bytearray(512)
    hdr[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", hdr, 24, 0x003E)
    struct.pack_into("<H", hdr, 26, 0x0003)
    struct.pack_into("<H", hdr, 28, 0xFFFE)
    struct.pack_into("<H", hdr, 30, 9)  # 512-byte sectors
    struct.pack_into("<H", hdr, 32, 6)  # 64-byte minisectors
    struct.pack_into("<I", hdr, 44, n_fat_sectors)
    struct.pack_into("<I", hdr, 48, first_dir)
    struct.pack_into("<I", hdr, 56, 4096)  # mini cutoff
    struct.pack_into("<I", hdr, 60, first_minifat)
    struct.pack_into("<I", hdr, 64, n_minifat)
    struct.pack_into("<I", hdr, 68, 0xFFFFFFFE)  # no DIFAT chain
    struct.pack_into("<I", hdr, 72, 0)
    struct.pack_into("<I", hdr, 76, 0)  # DIFAT[0]: FAT in sector 0
    for i in range(1, 109):
        struct.pack_into("<I", hdr, 76 + 4 * i, 0xFFFFFFFF)
    return hdr


def write_xls(path, rows, mini_stream=False):
    """Assemble a complete .xls (CFB + BIFF8). ``mini_stream=True``
    keeps the workbook stream under 4096 bytes so it lands in the CFB
    mini stream (the layout real small files use); otherwise the stream
    is padded past the cutoff into regular sectors."""
    import struct

    stream = _build_workbook_stream(rows)
    if mini_stream:
        assert len(stream) < 4096, "mini-stream fixture must stay under the cutoff"
        mini = stream + b"\0" * (-len(stream) % 64)
        n_mini = len(mini) // 64
        container = mini + b"\0" * (-len(mini) % 512)
        n_container = len(container) // 512
        # sectors: 0=FAT, 1=dir, 2=miniFAT, 3..=mini-stream container
        minifat = [(i + 1) if i < n_mini - 1 else 0xFFFFFFFE for i in range(n_mini)]
        minifat += [0xFFFFFFFF] * (128 - len(minifat))
        fat = [0xFFFFFFFD, 0xFFFFFFFE, 0xFFFFFFFE]
        fat += [(3 + i + 1) if i < n_container - 1 else 0xFFFFFFFE for i in range(n_container)]
        fat += [0xFFFFFFFF] * (128 - len(fat))
        d = (
            _cfb_dirent("Root Entry", 5, 3, len(mini), child=1)
            + _cfb_dirent("Workbook", 2, 0, len(stream))
            + b"\0" * 256
        )
        data = (
            bytes(_cfb_header(1, 1, 2, 1))
            + struct.pack("<128I", *fat)
            + d
            + struct.pack("<128I", *minifat)
            + container
        )
    else:
        stream = stream + b"\0" * max(0, 4608 - len(stream))
        stream += b"\0" * (-len(stream) % 512)
        n_stream = len(stream) // 512
        # sectors: 0=FAT, 1=dir, 2..=workbook stream
        fat = [0xFFFFFFFD, 0xFFFFFFFE]
        fat += [(2 + i + 1) if i < n_stream - 1 else 0xFFFFFFFE for i in range(n_stream)]
        fat += [0xFFFFFFFF] * (128 - len(fat))
        d = (
            _cfb_dirent("Root Entry", 5, 0xFFFFFFFE, 0, child=1)
            + _cfb_dirent("Workbook", 2, 2, len(stream))
            + b"\0" * 256
        )
        data = (
            bytes(_cfb_header(1, 1, 0xFFFFFFFE, 0))
            + struct.pack("<128I", *fat)
            + d
            + stream
        )
    Path(path).write_bytes(data)


def test_xls_grid_contract(spark, tmp_path):
    # same contract as the xlsx test: all cells strings, blanks "",
    # numerics rendered as their raw value text; exercises LABELSST
    # (latin-1 + UTF-16 SST entries), RK ints (negative too), NUMBER
    # doubles and BLANK cells through the regular-sector CFB layout
    p = tmp_path / "legacy.xls"
    write_xls(
        p,
        [
            ["HCPCS", "Description", "Fee"],
            ["0001U", "Some lab test", 42],
            ["0002M", "", 12.5],
            ["", "unicode £é", -7],
        ],
    )
    grid = read_grid(spark, str(p))
    rows = grid_rows(grid)
    assert rows == [
        ["HCPCS", "Description", "Fee"],
        ["0001U", "Some lab test", "42"],
        ["0002M", "", "12.5"],
        ["", "unicode £é", "-7"],
    ]
    assert grid.n_cols == 3 and grid.extension == ".xls"
    assert all(isinstance(v, str) for r in rows for v in r)


def test_xls_mini_stream_layout(spark, tmp_path):
    # small workbooks live in the CFB mini stream (64-byte minisectors
    # chained by the miniFAT inside the root entry's stream) — the
    # layout every real sub-4KB .xls upload uses
    p = tmp_path / "small.xls"
    write_xls(p, [["A", "B"], ["1", "x"]], mini_stream=True)
    assert grid_rows(read_grid(spark, str(p)))  == [["A", "B"], ["1", "x"]]


def test_xls_rejects_non_biff8_and_garbage(spark, tmp_path):
    # pre-BIFF8 and truncated/garbage containers must fail loudly,
    # never silently misparse (the reference surfaces parse errors to
    # the upload UI the same way)
    p = tmp_path / "garbage.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0" + b"\x00" * 64)  # magic, no container
    with pytest.raises(ValueError):
        read_grid(spark, str(p))
    p2 = tmp_path / "notole.xls"
    p2.write_bytes(b"not an ole file at all")
    with pytest.raises(ValueError, match="CFB|OLE2"):
        read_grid(spark, str(p2))


def test_row_as_list_and_extension_helpers(spark, tmp_path):
    # reference tests/test_file_parser.py:128-180
    p = tmp_path / "r.csv"
    p.write_text("  A ,B\n1,2\n")
    grid = read_grid(spark, str(p))
    assert grid.row_as_list(0) == ["A", "B"]  # stripped
    assert grid.row_as_list(99) == []
    assert file_extension("Data.XLSX") == "xlsx"
    assert file_extension("noext") == ""


def test_row_idx_contiguous_and_file_ordered(spark, tmp_path):
    p = tmp_path / "big.csv"
    p.write_text("\n".join(f"row{i},{i}" for i in range(500)) + "\n")
    grid = read_grid(spark, str(p))
    rows = grid.df.orderBy("row_idx").select("row_idx", "_c0").collect()
    assert [r.row_idx for r in rows] == list(range(500))
    assert rows[0]._c0 == "row0" and rows[499]._c0 == "row499"


def test_with_row_idx_on_repartitioned_frame(spark):
    df = spark.range(1000).selectExpr("CAST(id AS STRING) AS _c0").repartition(7)
    out, n_rows, n_flagged = with_row_idx(df)
    assert (n_rows, n_flagged) == (1000, 0)
    got = sorted(r.row_idx for r in out.select("row_idx").collect())
    assert got == list(range(1000))


def test_with_row_idx_on_zero_rows(spark):
    df = spark.createDataFrame([], "_c0 string")
    out, n_rows, n_flagged = with_row_idx(df, flag=F.col("_c0").isNotNull())
    assert (n_rows, n_flagged) == (0, 0)
    assert out.columns == ["_c0", "row_idx"]
    assert out.collect() == []


def test_with_row_idx_skips_empty_partitions(spark):
    # five range partitions of four ids; only partitions 0 and 3 keep
    # rows, so 1, 2 (between them) and 4 (after the last) are empty
    df = spark.range(0, 20, numPartitions=5).filter("id < 4 OR id BETWEEN 12 AND 15")
    out, n_rows, n_flagged = with_row_idx(df, flag=F.col("id") % 2 == 0)
    assert (n_rows, n_flagged) == (8, 4)
    got = [(r.id, r.row_idx) for r in out.orderBy("row_idx").collect()]
    assert got == list(zip([0, 1, 2, 3, 12, 13, 14, 15], range(8)))


# ----------------------------------------------------------------------
# header detection
# ----------------------------------------------------------------------


def test_header_on_first_row():
    # reference tests/test_header_detector.py:17-38
    det = detect_header([["HCPCS", "DESCRIPTION", "WORK RVU"], ["00100", "x", "1.5"]], MAPPINGS)
    assert det.found and det.header_row_index == 0
    assert det.column_index == {"hcpcs_code": 0, "description": 1, "work_rvu": 2}


def test_header_after_preamble_rows():
    # reference tests/test_header_detector.py:40-58
    rows = [
        ["CMS Physician Fee Schedule", "", ""],
        ["Copyright 2024", "", ""],
        ["", "", ""],
        ["HCPCS", "DESC", "WRVU"],
        ["00100", "anesthesia", "1.5"],
    ]
    det = detect_header(rows, MAPPINGS)
    assert det.found and det.header_row_index == 3
    assert det.column_map["description"] == "DESC"


def test_header_case_insensitive():
    # reference tests/test_header_detector.py:60-75
    det = detect_header([["hcpcs", "description"]], MAPPINGS)
    assert det.found
    assert det.column_index["hcpcs_code"] == 0


def test_missing_required_column_fails_with_message():
    # reference tests/test_header_detector.py:77-92
    det = detect_header([["DESCRIPTION", "WORK RVU"], ["x", "1.0"]], MAPPINGS)
    assert not det.found
    assert det.header_row_index is None
    assert "hcpcs_code" in det.error


def test_optional_column_absent_is_fine():
    # reference tests/test_header_detector.py:94-110
    det = detect_header([["HCPCS"]], MAPPINGS)
    assert det.found
    assert "work_rvu" not in det.column_map


def test_unmapped_columns_reported():
    # reference tests/test_header_detector.py:112-128
    det = detect_header([["HCPCS", "MYSTERY COL", "DESC"]], MAPPINGS)
    assert det.found
    assert det.unmapped_columns == ["MYSTERY COL"]


def test_partial_match_verbose_header():
    # reference tests/test_header_detector.py:130-146
    mappings = {
        "modifier_indicator": {"headers": ["Modifier"], "is_required": True},
    }
    det = detect_header([["Modifier 0=not allowed 1=allowed 9=N/A"]], mappings)
    assert det.found
    assert det.column_index["modifier_indicator"] == 0


def test_partial_match_abbreviation_needs_3_chars():
    det = detect_header([["DESC"]], {"description": {"headers": ["DESCRIPTION"], "is_required": True}})
    assert det.found
    det2 = detect_header([["DE"]], {"description": {"headers": ["DESCRIPTION"], "is_required": True}})
    assert not det2.found


def test_synonym_alternatives():
    # reference tests/test_header_detector.py:148-165
    det = detect_header([["HCPC", "DESC", "WRVU"]], MAPPINGS)
    assert det.found
    assert det.column_map == {"hcpcs_code": "HCPC", "description": "DESC", "work_rvu": "WRVU"}


def test_not_found_beyond_scan_range():
    # reference tests/test_header_detector.py:167-182
    rows = [["junk", ""] for _ in range(16)] + [["HCPCS", "DESC"]]
    det = detect_header(rows, MAPPINGS)
    assert not det.found


def test_each_file_column_claimed_once():
    # one file column can satisfy at most one canonical column
    mappings = {
        "a": {"headers": ["CODE"], "is_required": True},
        "b": {"headers": ["CODE"], "is_required": False},
    }
    det = detect_header([["CODE", "CODE"]], mappings)
    assert det.found
    assert det.column_index == {"a": 0, "b": 1}
