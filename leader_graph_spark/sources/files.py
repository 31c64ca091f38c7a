"""File sources & sinks beyond parquet (SURVEY.md §2.1 S1-S4, K3-K5).

- S1/S3: CSV scan incl. directory multi-file union (native multi-path);
- S2: Excel via pandas → ``createDataFrame`` (no native Spark source);
- S4: CSV with required-field validation (utf-8-sig tolerant);
- K3: JSON sink partitioned per key.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession


class MissingFieldsError(ValueError):
    pass


class UnsupportedExcelFormatError(ValueError):
    """Binary pre-2007 ``.xls`` (OLE2/BIFF) reached the hermetic XLSX
    path. The reference reads ``.xls`` through pandas+xlrd
    (``org/create_c_org_info.py:41-42``); without such an engine the
    stdlib fallback can only parse zip-of-XML ``.xlsx``, so the error
    must be typed and actionable, not a BadZipFile traceback."""


# OLE2 compound-document magic — the container of every binary .xls.
_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    *,
    required_fields: list[str] | None = None,
) -> DataFrame:
    """S1/S4: header CSV scan with optional required-field check
    (``leader/bio_processor_qwen.py:509-540``). utf-8-sig BOM handled by
    the ``encoding`` option so Chinese-header org charts read cleanly."""
    df = (
        spark.read.option("header", True)
        .option("encoding", "UTF-8")
        .option("multiLine", True)
        .csv(path)
    )
    if df.columns and df.columns[0].startswith("﻿"):
        df = df.withColumnRenamed(df.columns[0], df.columns[0].lstrip("﻿"))
    if required_fields:
        missing = [f for f in required_fields if f not in df.columns]
        if missing:
            raise MissingFieldsError(f"missing required fields: {missing}")
    return df


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """S2: Excel scan (reference: ``org/create_c_org_info.py:41-42``
    reads org-chart xlsx via pandas). No native Spark source; the file
    is small dimension data by construction — org charts — so a
    driver-side parse into ``createDataFrame`` is the honest plan
    shape. Prefers ``pandas.read_excel`` when an engine (openpyxl) is
    installed; otherwise falls back to the hermetic stdlib XLSX parser
    (:func:`_read_xlsx_stdlib`) — xlsx is a zip of XML, and the subset
    org charts use (one sheet, shared/inline strings, numbers) needs no
    third-party code. Fallback cells come back as strings (like CSV);
    callers restore types with explicit casts."""
    import pandas as pd

    try:
        return spark.createDataFrame(pd.read_excel(path))
    except ImportError:
        with open(path, "rb") as f:
            if f.read(8) == _OLE2_MAGIC:
                raise UnsupportedExcelFormatError(
                    f"{path} is a binary pre-2007 .xls (OLE2/BIFF); the "
                    "hermetic fallback parses only .xlsx. Install an engine "
                    "(xlrd) or convert the workbook to .xlsx."
                ) from None
        return spark.createDataFrame(_read_xlsx_stdlib(path))


def _col_letter(i: int) -> str:
    """0-based column index → A1-style letters (A..Z, AA..)."""
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def write_xlsx(rows: list[tuple], columns: list[str], path: str) -> None:
    """Minimal single-sheet XLSX writer on stdlib ``zipfile`` — the
    sink half of the S2 boundary, so the Excel source can be
    round-trip-tested hermetically (no openpyxl in the runtime).
    Strings are written as inline strings with ``xml:space=preserve``
    (newlines and leading/trailing spaces survive); ints/floats as
    number cells; None as an omitted cell. The subset written is
    exactly what :func:`_read_xlsx_stdlib` and pandas both read."""
    import zipfile

    def cell(r: int, c: int, v) -> str:
        ref = f"{_col_letter(c)}{r}"
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is>'
            f'<t xml:space="preserve">{_xml_escape(str(v))}</t></is></c>'
        )

    sheet_rows = []
    for ri, row in enumerate([tuple(columns)] + list(rows), start=1):
        cells = "".join(cell(ri, ci, v) for ci, v in enumerate(row))
        sheet_rows.append(f'<row r="{ri}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(sheet_rows)}</sheetData></worksheet>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def _cell_col(ref: str) -> int:
    """A1-style ref → 0-based column index."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _read_xlsx_stdlib(path: str):
    """Hermetic XLSX reader (stdlib zipfile + ElementTree): first sheet,
    row 1 = header, supports shared strings (``t="s"``), inline strings
    (``t="inlineStr"``), formula-cached strings (``t="str"``) and
    number cells — the subset pandas/openpyxl write for tabular dumps
    and :func:`write_xlsx` emits. Returns a pandas DataFrame of
    object-dtype STRINGS (missing cells → None), the same untyped
    contract as the CSV source."""
    import re
    import zipfile
    import xml.etree.ElementTree as ET

    import pandas as pd

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(
                    "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"
                )))
        sheet_names = sorted(
            n for n in z.namelist()
            if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
        )
        root = ET.fromstring(z.read(sheet_names[0]))
    rows: list[dict[int, str | None]] = []
    max_col = -1
    for row_el in root.iter("{http://schemas.openxmlformats.org/spreadsheetml/2006/main}row"):
        row: dict[int, str | None] = {}
        for idx, c in enumerate(row_el.findall("m:c", ns)):
            col = _cell_col(c.get("r", "")) if c.get("r") else idx
            t = c.get("t", "n")
            if t == "inlineStr":
                is_el = c.find("m:is", ns)
                val = "".join(
                    tt.text or "" for tt in is_el.iter(
                        "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"
                    )
                ) if is_el is not None else None
            else:
                v = c.find("m:v", ns)
                val = None if v is None else (v.text or "")
                if t == "s" and val is not None:
                    val = shared[int(val)]
            row[col] = val
            max_col = max(max_col, col)
        rows.append(row)
    header = [rows[0].get(i) or f"col{i}" for i in range(max_col + 1)]
    data = [
        [r.get(i) for i in range(max_col + 1)] for r in rows[1:]
    ]
    return pd.DataFrame(data, columns=header, dtype=object)


def read_tabular_dir(spark: SparkSession, directory: str) -> DataFrame:
    """S3: union every *.csv/*.xls/*.xlsx in a directory by column name
    (``org/create_c_org_info.py:374-395``), tagging provenance with the
    source file for deterministic first-wins dedup downstream."""
    from pyspark.sql import functions as F

    frames: list[DataFrame] = []
    csvs = sorted(_glob.glob(os.path.join(directory, "*.csv")))
    if csvs:
        frames.append(
            read_csv(spark, csvs).withColumn("_source_file", F.input_file_name())
        )
    for xls in sorted(
        _glob.glob(os.path.join(directory, "*.xls"))
        + _glob.glob(os.path.join(directory, "*.xlsx"))
    ):
        frames.append(
            read_excel(spark, xls).withColumn("_source_file", F.lit(xls))
        )
    if not frames:
        raise FileNotFoundError(f"no tabular files in {directory}")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def write_json_per_key(df: DataFrame, path: str, *, key_col: str) -> None:
    """K3: per-key JSON output (one directory per key value) —
    ``partitionBy`` replaces the reference's one-file-per-person loop
    (``leader/bio_processor_qwen.py:436-490``)."""
    df.write.mode("overwrite").partitionBy(key_col).json(path)
