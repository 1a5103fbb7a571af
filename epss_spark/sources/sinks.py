"""Sinks (SURVEY §2.2, reference epss/util.py:33-52, epss/cli.py:166-182).

Distributed writers go through Spark (parquet/csv/jsonl); JSON-array and
Excel are driver-side conversions of bounded result sets, exactly like the
reference (its Excel path is toPandas-equivalent, reference
examples/get-excel-workbook-of-changed-epss-scores.py:43-49). Console
renderers mirror the reference CLI's table/json/jsonl/csv output modes.
"""

from __future__ import annotations

import json
import os
import sys
from typing import IO

from pyspark.sql import DataFrame, SparkSession

from epss_spark.sources.readers import infer_format, read_any, write_any


def write_json_array(df: DataFrame, path: str) -> None:
    """Row-oriented JSON array file (reference epss/util.py:41-44) —
    driver-side; use only on bounded (post-aggregation/quantization)
    results."""
    records = [row.asDict(recursive=True) for row in df.collect()]
    with open(path, "w") as f:
        json.dump(records, f, default=str)


def _col_letter(i: int) -> str:
    """0-based column index -> A1-style letters (0->A, 25->Z, 26->AA)."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _write_xlsx_minimal(pdf, path: str, sheet_name: str) -> None:
    """Single-sheet OOXML workbook with only the stdlib (zipfile + XML):
    numbers as native cells, everything else as inline strings (dates
    render as ISO strings, like the console JSON encoder). Covers the
    reference's Excel sink without requiring openpyxl/xlsxwriter."""
    import math
    import numbers
    import zipfile
    from xml.sax.saxutils import escape

    try:
        import numpy as _np
    except ImportError:  # pragma: no cover - numpy ships with pyspark
        _np = None

    def cell(r: int, c: int, v) -> str:
        ref = f"{_col_letter(c)}{r + 1}"
        if _np is not None and isinstance(v, _np.generic):
            # pandas iterrows yields numpy scalars; under numpy >= 2 their
            # repr is 'np.float64(0.5)', which corrupts the <v> literal —
            # unwrap to the plain Python value first (also fixes np.bool_,
            # and isinstance catches subclasses a module-name check misses)
            v = v.item()
        if v is None or (isinstance(v, float) and (math.isnan(v) or math.isinf(v))):
            return f'<c r="{ref}"/>'  # NaN/inf have no xlsx numeric literal
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, numbers.Number):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    lines = ['<sheetData>']
    lines.append(
        "<row r=\"1\">" + "".join(cell(0, c, str(col)) for c, col in enumerate(pdf.columns)) + "</row>"
    )
    for r, (_, row) in enumerate(pdf.iterrows(), start=1):
        lines.append(
            f'<row r="{r + 1}">' + "".join(cell(r, c, v) for c, v in enumerate(row)) + "</row>"
        )
    lines.append("</sheetData>")
    sheet_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(lines)
        + "</worksheet>"
    )
    workbook_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{escape(sheet_name)}" sheetId="1" r:id="rId1"/></sheets></workbook>'
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
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook_xml)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)


def write_excel(df: DataFrame, path: str, sheet_name: str = "data") -> None:
    """Excel workbook sink (reference README.md:285-290; the reference ships
    xlsxwriter). Driver-side, bounded results only. Uses pandas.to_excel
    when an engine is installed, else falls back to the stdlib minimal
    OOXML writer — the sink always works."""
    pdf = df.toPandas()
    try:
        pdf.to_excel(path, sheet_name=sheet_name, index=False)
    except ImportError:  # no openpyxl/xlsxwriter in this environment
        _write_xlsx_minimal(pdf, path, sheet_name)


DEFAULT_CONSOLE_ROWS = 1000


def render_console(
    df: DataFrame,
    fmt: str = "table",
    n: int | None = None,
    file: IO | None = None,
    full: bool = False,
) -> None:
    """Console render modes (reference epss/cli.py:166-182); json/jsonl/csv
    collect to the driver with ISO dates (reference epss/json_encoder.py:5-9).

    Bounded by default (DEFAULT_CONSOLE_ROWS) — an unbounded collect of an
    arbitrary frame is a driver OOM waiting to happen. ``full=True`` opts
    into the reference's whole-frame behavior (set_tbl_rows(-1)); the CLI
    passes it for parity, a library caller must ask for it."""
    out = file or sys.stdout
    if n is None and not full:
        n = DEFAULT_CONSOLE_ROWS
    if fmt == "table":
        if n is None:
            # full=True: show() needs the row count up front. Collect once
            # and show those rows from a local relation (it runs no job),
            # so the query is not executed a second time for a count.
            rows = df._jdf.collectAsList()
            local = df.sparkSession._jsparkSession.createDataFrame(rows, df._jdf.schema())
            df, n = DataFrame(local, df.sparkSession), rows.size()
        df.show(n=n, truncate=False)
        return
    rows = [r.asDict(recursive=True) for r in (df.limit(n) if n else df).collect()]
    if fmt == "json":
        json.dump(rows, out, default=str)
        out.write("\n")
    elif fmt == "jsonl":
        for r in rows:
            json.dump(r, out, default=str)
            out.write("\n")
    elif fmt == "csv":
        import csv as _csv

        if rows:
            w = _csv.DictWriter(out, fieldnames=list(rows[0]))
            w.writeheader()
            w.writerows(rows)
    else:
        raise ValueError(f"unknown console format {fmt!r}")


def convert(spark: SparkSession, src: str, dst: str, schema=None) -> None:
    """Format conversion (reference epss/util.py:69-119 converts file-by-file
    in a thread pool; here one distributed read -> write over the whole
    dataset)."""
    write_file(read_any(spark, src, schema=schema), dst)


def write_file(df: DataFrame, path: str) -> None:
    """Write `df` in the format its path's extension names (reference
    epss/util.py:33-52): `.xlsx` is an Excel workbook and `.json` a JSON
    array, both written on the driver; parquet/csv/jsonl are distributed
    Spark writes (`write_any`)."""
    if path.endswith(".xlsx"):
        write_excel(df, path)
    elif infer_format(path) == "json":
        write_json_array(df, path)
    else:
        write_any(df, path)


def convert_files_in_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    out_format: str = "parquet",
    schema=None,
    max_workers: int = 4,
) -> list[str]:
    """Per-file format conversion preserving the one-file-per-day layout
    (reference epss/util.py:69-119: convert every file in a dir, thread
    pooled, skip-if-exists). Each output is a single plain file named after
    its source with the extension swapped — external tools that expect the
    daily-file layout keep working. For whole-dataset conversion (one
    distributed read -> write) use `convert` instead."""
    import glob as _glob
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(dst_dir, exist_ok=True)
    srcs = [f for f in sorted(os.listdir(src_dir)) if not f.startswith((".", "_"))]

    def one(fname: str) -> str:
        base = fname[:-3] if fname.endswith(".gz") else fname
        stem = os.path.splitext(base)[0]
        dst = os.path.join(dst_dir, f"{stem}.{out_format}")
        if os.path.exists(dst):  # idempotent (reference epss/util.py:85-90)
            return dst
        df = read_any(spark, os.path.join(src_dir, fname), schema=schema)
        if out_format == "json":
            write_json_array(df, dst)
            return dst
        tmp = tempfile.mkdtemp(prefix="convdir_", dir=dst_dir)
        try:
            out = os.path.join(tmp, "out")
            write_any(df.coalesce(1), out, out_format)
            parts = _glob.glob(os.path.join(out, "part-*"))
            if len(parts) != 1:
                raise RuntimeError(f"expected one part file for {fname}, found {parts}")
            staged = os.path.join(tmp, "staged")
            shutil.move(parts[0], staged)
            os.replace(staged, dst)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return dst

    # driver-side thread pool issues concurrent small Spark jobs — the
    # scheduler interleaves them; per-file data is one daily snapshot
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return list(pool.map(one, srcs))


def merge(spark: SparkSession, src_glob: str, dst: str, schema=None, fmt: str | None = None) -> None:
    """Merge many per-day files into one dataset (reference
    scripts/merge-dir.sh:1-38). coalesce(1) only at the final write — the
    scan and any transforms stay parallel."""
    df = read_any(spark, src_glob, fmt=fmt, schema=schema)
    out_fmt = infer_format(dst)
    writer = df.coalesce(1).write.mode("overwrite")
    if out_fmt == "csv":
        writer.option("header", True).csv(dst)
    elif out_fmt == "parquet":
        writer.parquet(dst)
    elif out_fmt == "jsonl":
        writer.json(dst)
    else:
        raise ValueError(f"unsupported merge format {out_fmt!r}")


def sort_file(spark: SparkSession, path: str, by: list[str], descending: bool = False, schema=None) -> None:
    """File-level sort-in-place (reference epss/util.py:122-139): read ->
    total order -> rewrite. Composite keys are one orderBy, not successive
    single-key stable sorts (Polars semantics note, SURVEY §2.8).

    Honors the reference's file-in/file-out contract: a plain input FILE is
    replaced by a plain sorted file (the single part-file is moved out of
    the Spark output dir), atomically via os.replace — the original is
    never removed before its replacement is fully staged, so a failure
    mid-way leaves the input intact."""
    import glob as _glob
    import shutil
    import tempfile

    df = read_any(spark, path, schema=schema)
    cols = [getattr(df[c], "desc" if descending else "asc")() for c in by]
    fmt = infer_format(path)
    tmp = tempfile.mkdtemp(prefix="sortfile_", dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        out = os.path.join(tmp, "out")
        write_any(df.orderBy(*cols).coalesce(1), out, fmt)
        if os.path.isdir(path):
            # dataset-dir input: swap the whole directory. The original
            # briefly lives inside tmp — if landing the replacement
            # fails, restore it BEFORE the finally-cleanup can delete it
            # (a bare rename+move would destroy both copies on a failed
            # swap, violating the contract above)
            old = os.path.join(tmp, "old")
            os.rename(path, old)
            try:
                shutil.move(out, path)
            except BaseException:
                if os.path.exists(path):  # partially-landed replacement
                    shutil.rmtree(path, ignore_errors=True)
                os.rename(old, path)
                raise
        else:
            parts = _glob.glob(os.path.join(out, "part-*"))
            if len(parts) != 1:  # coalesce(1) guarantees this; fail safe
                raise RuntimeError(f"expected one part file, found {parts}")
            staged = os.path.join(tmp, "staged")
            shutil.move(parts[0], staged)
            os.replace(staged, path)  # atomic on POSIX; original intact until here
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
