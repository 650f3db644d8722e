"""Excel source (≙ helpers/ExcelToCSVConverter.scala).

The reference converts ``.xls/.xlsx`` to a temp CSV (separator ``~~~``)
with Apache POI before parsing (``ExcelToCSVConverter.scala:42-150``).
We follow the same stage-then-parse shape: convert the workbook to CSV
driver-side, then run the distributed CSV reader.

``.xlsx`` needs no optional dependency: OOXML is a zip of XML parts, so
the primary backend here is a stdlib ``zipfile`` + ``xml.etree`` reader
(workbook sheet map → sharedStrings → sheetData cells). It emits the
*stored* cell values (POI applies locale/number-format rendering,
``ExcelToCSVConverter.scala:89-92``; downstream DFASDL typing re-parses
either way). Legacy binary ``.xls`` goes through the stdlib BIFF8
reader in :mod:`.biff` (OLE2 container → Workbook stream → cell
records) under the same output contract.

Spec options: ``sheet`` (name or 0-based index, default first).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession

from ..plans.spec import SourceSpec
from . import register

# The reference's conversion separator, chosen to never collide with
# cell content (``ExcelToCSVConverter.scala`` / ``tensei.conf:78``).
SEPARATOR = "~~~"

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _local(tag: str) -> str:
    """Strip the XML namespace from an element tag."""
    return tag.rsplit("}", 1)[-1]


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'BC12' -> 54 (0-based column from a cell reference)."""
    m = _CELL_REF.match(ref)
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _text_of(elem) -> str:
    """Concatenate all <t> descendants (plain and rich-text runs)."""
    return "".join(t.text or "" for t in elem.iter() if _local(t.tag) == "t")


def _fmt_number(raw: str) -> str:
    """Render the stored numeric string the way POI/pandas would:
    '5.0' -> '5' (xlsx stores every number as a float), else verbatim."""
    try:
        f = float(raw)
    except ValueError:
        return raw
    return str(int(f)) if f == int(f) and "e" not in raw.lower() else raw


def read_xlsx_rows(path: str, sheet: str | int = 0) -> list[list[str]]:
    """Read one worksheet of an ``.xlsx`` with the stdlib only.

    Returns a dense list of rows (ragged rows padded with ``""``), cell
    values as strings: shared/inline strings resolved, booleans as
    TRUE/FALSE, numerics via :func:`_fmt_number`.
    """
    with zipfile.ZipFile(path) as zf:
        # sheet name -> r:id, in workbook order
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = [
            (s.get("name"), s.get(
                "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
            ))
            for s in wb.iter()
            if _local(s.tag) == "sheet"
        ]
        if not sheets:
            raise ValueError(f"{path}: workbook has no sheets")
        if isinstance(sheet, int):
            if sheet >= len(sheets):
                raise ValueError(f"{path}: sheet index {sheet} out of range")
            name, rid = sheets[sheet]
        else:
            match = [s for s in sheets if s[0] == sheet]
            if not match:
                raise ValueError(f"{path}: no sheet named {sheet!r}")
            name, rid = match[0]
        # r:id -> part path via the workbook relationships
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        target = next(
            r.get("Target")
            for r in rels.iter()
            if _local(r.tag) == "Relationship" and r.get("Id") == rid
        )
        part = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
        # shared strings table (absent when no string cells exist)
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = [_text_of(si) for si in sst if _local(si.tag) == "si"]
        # styles: cell style index (c@s) → numFmtId, for date/time/
        # percent rendering (same contract as the BIFF reader; xlfmt).
        xf_ifmt: list[int] = []
        num_fmts: dict[int, str] = {}
        if "xl/styles.xml" in zf.namelist():
            styles = ET.fromstring(zf.read("xl/styles.xml"))
            for nf in styles.iter():
                if _local(nf.tag) == "numFmt":
                    num_fmts[int(nf.get("numFmtId"))] = nf.get("formatCode", "")
            cell_xfs = next(
                (e for e in styles.iter() if _local(e.tag) == "cellXfs"), None
            )
            if cell_xfs is not None:
                xf_ifmt = [
                    int(xf.get("numFmtId", "0"))
                    for xf in cell_xfs
                    if _local(xf.tag) == "xf"
                ]

        from .xlfmt import classify, render

        def fmt_cell(raw: str, s_idx: int) -> str:
            ifmt = xf_ifmt[s_idx] if s_idx < len(xf_ifmt) else 0
            kind = classify(ifmt, num_fmts.get(ifmt))
            if kind:
                try:
                    return render(float(raw), kind, ifmt, num_fmts.get(ifmt))
                except ValueError:
                    return _fmt_number(raw)
            return _fmt_number(raw)
        rows: list[list[str]] = []
        sheet_xml = ET.fromstring(zf.read(part))
        for row in sheet_xml.iter():
            if _local(row.tag) != "row":
                continue
            # Entirely empty rows are OMITTED from sheetData; honor the
            # r attribute so positions match the POI/pandas conversion
            # (a position-based DFASDL spec counts blank records).
            if row.get("r"):
                while len(rows) < int(row.get("r")) - 1:
                    rows.append([])
            cells: list[str] = []
            for c in row:
                if _local(c.tag) != "c":
                    continue
                idx = _col_index(c.get("r")) if c.get("r") else len(cells)
                while len(cells) < idx:
                    cells.append("")
                t = c.get("t", "n")
                v = next((ch for ch in c if _local(ch.tag) == "v"), None)
                is_ = next((ch for ch in c if _local(ch.tag) == "is"), None)
                if t == "s":
                    val = shared[int(v.text)] if v is not None else ""
                elif t == "inlineStr":
                    val = _text_of(is_) if is_ is not None else ""
                elif t == "b":
                    val = "TRUE" if v is not None and v.text == "1" else "FALSE"
                elif t in ("str", "e"):
                    val = v.text or "" if v is not None else ""
                else:  # numeric
                    val = (
                        fmt_cell(v.text, int(c.get("s", "0")))
                        if v is not None and v.text
                        else ""
                    )
                cells.append(val)
            rows.append(cells)
    width = max((len(r) for r in rows), default=0)
    return [r + [""] * (width - len(r)) for r in rows]


def _staging_dir() -> str:
    """A fresh staging directory, removed when the interpreter exits
    (not sooner: Spark reads the staged CSV lazily)."""
    d = tempfile.mkdtemp(prefix="tensei_excel_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def excel_to_csv(path: str, sheet: str | int = 0, out_dir: str | None = None) -> str:
    """Convert one workbook sheet to a SEPARATOR-delimited CSV file."""
    if path.lower().endswith((".xlsx", ".xlsm")):
        rows = read_xlsx_rows(path, sheet=sheet)
    else:  # legacy binary .xls: stdlib BIFF8 reader (sources/biff.py)
        from .biff import read_xls_rows

        rows = read_xls_rows(path, sheet=sheet)
    d = out_dir or _staging_dir()
    os.makedirs(d, exist_ok=True)
    dest = os.path.join(d, os.path.basename(path) + ".csv")

    def esc(v: str) -> str:
        # Excel-style escaping (the reference's EXCEL_STYLE_ESCAPING):
        # quote cells containing the separator, quotes, or newlines —
        # an Alt+Enter multi-line cell must not split the record.
        if SEPARATOR in v or '"' in v or "\n" in v or "\r" in v:
            return '"' + v.replace('"', '""') + '"'
        return v

    with open(dest, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(SEPARATOR.join(esc(v) for v in r) + "\n")
    return dest


def read_excel_distributed(spark: SparkSession, spec: SourceSpec) -> DataFrame:
    """Many-workbook ingest: one executor task per FILE instead of a
    driver-side staging pass.

    ``spec.uri`` may be a directory or glob over thousands of ``.xls``/
    ``.xlsx`` files. Workbook bytes arrive via Spark's ``binaryFile``
    source; both stdlib readers here are pure functions over bytes, so
    the grid extraction runs inside ``mapInPandas`` (Arrow-batched, no
    JVM round-trips per cell) and only the typed ROWS cross back —
    never the workbook blobs. Cell values are the same rendered strings
    the staging converter emits (xlfmt dates/times/percents included),
    then cast to the DFASDL field types.

    Options: ``sheet`` (name or index), ``header`` — truthy skips the
    first row of EVERY workbook (the per-file header line).
    """
    import pandas as pd

    fields = spec.fields
    if not fields:
        raise ValueError("read_excel_distributed needs an explicit field list")
    sheet = spec.options.get("sheet", 0)
    skip_header = str(spec.options.get("header", "")).lower() in (
        "1", "true", "yes",
    )
    names = [f.name for f in fields]

    def convert(batches):
        import io
        import os as _os
        import tempfile as _tf

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                # both readers take a filename; spill the blob to the
                # task's local scratch (workbooks are small relative to
                # executor disk; content is already fully in memory)
                suffix = _os.path.splitext(path)[1] or ".xlsx"
                with _tf.NamedTemporaryFile(suffix=suffix, delete=False) as fh:
                    fh.write(bytes(content))
                    tmp = fh.name
                try:
                    if suffix.lower() in (".xlsx", ".xlsm"):
                        rows = read_xlsx_rows(tmp, sheet=sheet)
                    else:
                        from .biff import read_xls_rows

                        rows = read_xls_rows(tmp, sheet=sheet)
                finally:
                    _os.unlink(tmp)
                if skip_header:
                    rows = rows[1:]
                data = [
                    [(r[i] if i < len(r) and r[i] != "" else None)
                     for i in range(len(names))]
                    for r in rows
                ]
                yield pd.DataFrame(data, columns=names, dtype=object)

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", spec.options.get("glob", "*.xls*"))
        .load(spec.uri)
        .select("path", "content")
    )
    as_strings = blobs.mapInPandas(
        convert, schema=", ".join(f"`{n}` string" for n in names)
    )
    from pyspark.sql import functions as F

    out = as_strings.select(
        *[F.col(f"`{f.name}`").cast(f.type).alias(f.name) for f in fields]
    )
    from .csv import _apply_defaults

    return _apply_defaults(out, spec)


@register("excel")
def read_excel(spark: SparkSession, spec: SourceSpec) -> DataFrame:
    opts = dict(spec.options)
    if opts.pop("distributed", False):
        return read_excel_distributed(spark, spec)
    sheet = opts.pop("sheet", 0)
    staged = excel_to_csv(spec.uri, sheet=sheet)
    csv_spec = SourceSpec(
        name=spec.name,
        format="csv",
        uri=staged,
        fields=spec.fields,
        # multiLine: quoted cells may carry embedded newlines (the
        # converter Excel-escapes them); the staged file is one local
        # file, so losing line-level splittability costs nothing.
        # escape='"': the converter writes RFC4180 doubled quotes;
        # Spark's default escape is backslash and would hand back the
        # doubling verbatim.
        options={
            "sep": SEPARATOR, "multiLine": "true", "escape": '"', **opts,
        },
    )
    from .csv import read_csv

    return read_csv(spark, csv_spec)
