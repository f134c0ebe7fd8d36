"""Table catalog: sources and sinks.

The reference's "catalog" is a directory convention of TSV files
(reference: main.py:21-31, compile_biokg.py:11-23). Here sources are
parquet (or any Spark-readable format) tables addressed by directory; the
TSV writer exists only for reference-compatible dumps (reference:
export_triplets parsers.py:100-113, write_triples compile_biokg.py:932-935).

At cluster scale these reads would target an Iceberg catalog; the sandbox
has no Iceberg runtime jar, so the catalog is parquet directories with the
same layout (partitioned paths, schema-on-read). Nothing downstream knows
the difference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table from an sf directory."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_tsv(
    df: DataFrame, path: str, sep: str = "\t", partition_by: list[str] | None = None
) -> None:
    """Reference-compatible TSV dump (no header, positional columns).

    ``partition_by`` routes rows into one subdirectory per key value —
    the Spark analog of the reference's per-key output files (e.g. one
    PPI file per species, compile_biokg.py:215-272); the partition
    column lives in the directory name, not the file body, exactly like
    the reference's filename-encoded key."""
    w = df.write.mode("overwrite").option("sep", sep).option("header", "false")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def read_excel_table(
    spark: SparkSession, path: str, sheet: str | int = 0, header: bool = True
) -> DataFrame:
    """Excel source — S7 analog (reference: parsers.py:3261-3290 reads the
    Hijazi20 supplement with pd.read_excel, then splits ``sub(site)`` via
    regex; the regex split maps to ``regexp_extract`` downstream).

    Prefers pandas/openpyxl when installed; otherwise falls back to a
    stdlib reader (``_read_xlsx_stdlib``): .xlsx is a zip of XML, so
    ``zipfile`` + ElementTree cover the reference's use case — small
    curated supplement sheets of strings/numbers — with no dependency.
    Either way the parse is driver-side (supplements are dims, never the
    distributed fact data), then distributes via ``createDataFrame``. All
    values surface as strings, the reference's only type (SURVEY §1.2).
    """
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        # header must behave identically on both paths: row 0 is the
        # header only when header=True, else synthesize _c{i} names
        pdf = pd.read_excel(
            path, sheet_name=sheet, dtype=str, header=0 if header else None
        )
        rows = [tuple(None if pd.isna(v) else str(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
        cols = (
            [str(c) for c in pdf.columns]
            if header
            else [f"_c{i}" for i in range(len(pdf.columns))]
        )
    except ImportError:
        cols, rows = _read_xlsx_stdlib(path, sheet, header=header)
    schema = ", ".join(f"`{c}` string" for c in cols)
    return spark.createDataFrame(rows, schema)


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _read_xlsx_stdlib(
    path: str, sheet: str | int = 0, header: bool = True
) -> tuple[list[str], list[tuple]]:
    """Minimal .xlsx reader: zip member XML → (columns, row tuples).

    Handles shared strings, inline strings, and numeric cells; cells
    beyond a row's last populated column are NULL. Sheet selection by
    0-based index or by name (workbook.xml order)."""
    import re as _re
    import xml.etree.ElementTree as ET
    import zipfile

    _REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"

    with zipfile.ZipFile(path) as z:
        # sheet name -> sheet part, resolved through the workbook's
        # relationships (xl/_rels/workbook.xml.rels): sheet N in
        # workbook.xml order need NOT live in worksheets/sheet{N+1}.xml
        # after an Excel reorder/delete. Fall back to the positional
        # convention only when the rels part is absent.
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheets = list(wb.iter(f"{_XLSX_NS}sheet"))
        names = [e.get("name") for e in sheets]
        idx = names.index(sheet) if isinstance(sheet, str) else int(sheet)
        rel_targets: dict[str, str] = {}
        if "xl/_rels/workbook.xml.rels" in z.namelist():
            rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
            for rel in rels.iter(
                "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"
            ):
                rel_targets[rel.get("Id")] = rel.get("Target")
        rid = sheets[idx].get(f"{_REL_NS}id")
        target = rel_targets.get(rid, f"worksheets/sheet{idx + 1}.xml")
        if target.startswith("/"):
            sheet_part = target.lstrip("/")
        else:
            sheet_part = "xl/" + target
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t"))
                      for si in ss.iter(f"{_XLSX_NS}si")]
        root = ET.fromstring(z.read(sheet_part))

    def col_of(ref: str) -> int:
        letters = _re.match(r"([A-Z]+)", ref or "A").group(1)
        n = 0
        for ch in letters:
            n = n * 26 + (ord(ch) - 64)
        return n - 1

    raw_rows: list[list[str | None]] = []
    for row in root.iter(f"{_XLSX_NS}row"):
        vals: list[str | None] = []
        for cell in row.iter(f"{_XLSX_NS}c"):
            # a cell without an 'r' ref (legal per OOXML) occupies the
            # next implicit column, not column A
            ref = cell.get("r")
            ci = col_of(ref) if ref else len(vals)
            while len(vals) <= ci:
                vals.append(None)
            t = cell.get("t")
            v = cell.find(f"{_XLSX_NS}v")
            if t == "s" and v is not None:
                vals[ci] = shared[int(v.text)]
            elif t == "inlineStr":
                vals[ci] = "".join(x.text or "" for x in cell.iter(f"{_XLSX_NS}t"))
            elif v is not None:
                vals[ci] = v.text
        raw_rows.append(vals)
    if not raw_rows:
        return [], []
    width = max(len(r) for r in raw_rows)
    raw_rows = [r + [None] * (width - len(r)) for r in raw_rows]
    if header:
        cols = [c if c is not None else f"_c{i}" for i, c in enumerate(raw_rows[0])]
        body = raw_rows[1:]
    else:
        cols = [f"_c{i}" for i in range(width)]
        body = raw_rows
    return cols, [tuple(r) for r in body]


def write_family_table(
    df: DataFrame,
    target: str,
    partition_by: list[str] | None = None,
    catalog_format: str = "iceberg",
) -> str:
    """Partitioned family-table sink — the cluster form of the per-family
    emit (SURVEY §1.4: one Iceberg/parquet table per family,
    ``writeTo(...).partitionedBy(...)`` — the Spark analog of the
    reference's predicate-partitioned file tree, compile_biokg.py:292-305).

    Two paths, chosen by what the session actually supports:

    - **Catalog path** (``target`` = ``catalog.db.table``): DataFrameWriterV2
      ``df.writeTo(target).using('iceberg').partitionedBy(col, ...)
      .createOrReplace()`` — transactional replace, snapshot history,
      hidden-partition evolution, and compaction handled by the table
      format. This is the production route on a real cluster; it needs
      the Iceberg runtime jar + a configured catalog
      (``spark.sql.catalog.<name>`` + extensions), which this container
      does not ship.
    - **Path fallback** (``target`` = a filesystem path, or the catalog
      write fails to resolve): ``write.partitionBy(...).parquet(path)``
      with dynamic partition overwrite, giving the same layout and
      partition pruning, minus transactionality.

    Returns which path ran ('catalog' | 'path') so callers/tests can
    assert the routing.
    """
    looks_like_table = "/" not in target and "." in target
    if looks_like_table:
        try:
            w = df.writeTo(target).using(catalog_format)
            if partition_by:
                from pyspark.sql import functions as _F

                w = w.partitionedBy(*[_F.col(c) for c in partition_by])
            w.createOrReplace()
            return "catalog"
        except Exception:
            # no catalog/runtime for the format in this session — fall
            # through to the filesystem layout (same partition shape)
            target = "/tmp/" + target.replace(".", "_")
    w = df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)
    return "path"

