from pyspark.sql import functions as F

from biokg_spark.operators.stanzas import (
    assemble_stanzas,
    assign_segments,
    prefix_multiplex,
)

LINES = [
    # src, line_no, text  — two files, '//' terminators (reference: parsers.py:452-470)
    ("f1", 0, "ID alpha"),
    ("f1", 1, "AC A1"),
    ("f1", 2, "//"),
    ("f1", 3, "ID beta"),
    ("f1", 4, "AC B1"),
    ("f1", 5, "AC B2"),
    ("f1", 6, "//"),
    ("f2", 0, "ID gamma"),
    ("f2", 1, "//"),
]


def _lines_df(spark):
    return spark.createDataFrame(LINES, "src string, line_no int, text string")


def test_assign_segments(spark):
    df = assign_segments(_lines_df(spark), F.col("text") == "//")
    got = {(r.src, r.line_no): r.segment for r in df.collect()}
    assert got[("f1", 0)] == 0 and got[("f1", 2)] == 0  # terminator closes its own segment
    assert got[("f1", 3)] == 1 and got[("f1", 6)] == 1
    assert got[("f2", 0)] == 0


def test_assemble_stanzas(spark):
    out = assemble_stanzas(_lines_df(spark), F.col("text") == "//")
    rows = {(r.src, r.segment): r for r in out.collect()}
    assert rows[("f1", 0)].lines == ["ID alpha", "AC A1"]
    assert rows[("f1", 1)].lines == ["ID beta", "AC B1", "AC B2"]
    assert rows[("f1", 1)].n_lines == 3
    assert rows[("f2", 0)].lines == ["ID gamma"]


def test_assemble_deterministic_under_repartition(spark):
    df = _lines_df(spark).repartition(7)
    out = assemble_stanzas(df, F.col("text") == "//")
    rows = {(r.src, r.segment): tuple(r.lines) for r in out.collect()}
    assert rows[("f1", 1)] == ("ID beta", "AC B1", "AC B2")


def test_prefix_multiplex(spark):
    st = assemble_stanzas(_lines_df(spark), F.col("text") == "//")
    mux = prefix_multiplex(st)
    rows = {(r.src, r.segment): r.fields for r in mux.collect()}
    assert rows[("f1", 0)] == {"ID": "alpha", "AC": "A1"}
    # repeated prefixes concatenate in line order (parsers.py:225-232)
    assert rows[("f1", 1)]["AC"] == "B1 B2"


def test_tsv_round_trip(spark, tmp_path):
    """K1/S6 analog: reference-compatible TSV dump reads back losslessly
    with an explicit schema (positional columns, no header)."""
    from biokg_spark.sources.tables import write_tsv

    df = spark.createDataFrame(
        [("P1", "PPI", "P2"), ("DB1", "DPI", "P1")],
        "subj string, pred string, obj string",
    )
    path = str(tmp_path / "triples_tsv")
    write_tsv(df, path)
    back = spark.read.csv(path, sep="\t", schema="subj string, pred string, obj string")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def _write_min_xlsx(path, sheets):
    """Hand-rolled minimal .xlsx: sheets = {name: [[cell,...],...]} with
    str/int/None cells. Strings go through sharedStrings like real files."""
    import zipfile

    shared, sidx = [], {}

    def cell_xml(r, c, v):
        ref = f"{chr(65 + c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if v not in sidx:
            sidx[v] = len(shared)
            shared.append(v)
        return f'<c r="{ref}" t="s"><v>{sidx[v]}</v></c>'

    ws = []
    for _name, rows in sheets.items():
        body = "".join(
            f'<row r="{ri + 1}">' + "".join(cell_xml(ri, ci, v) for ci, v in enumerate(row)) + "</row>"
            for ri, row in enumerate(rows)
        )
        ws.append(f'<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>{body}</sheetData></worksheet>')
    wb_sheets = "".join(
        f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>' for i, n in enumerate(sheets)
    )
    wb = ('<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          f"<sheets>{wb_sheets}</sheets></workbook>")
    ss = ('<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
          + "".join(f"<si><t>{t}</t></si>" for t in shared) + "</sst>")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/sharedStrings.xml", ss)
        for i, _ in enumerate(sheets):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", ws[i])


def test_excel_source_runnable(spark, tmp_path):
    """S7 Excel source runs in this container via the stdlib .xlsx reader
    (zip-of-XML; reference: parsers.py:3261-3290 reads supplement sheets).
    Covers shared strings, numbers, missing cells, sheet-by-name."""
    from biokg_spark.sources.tables import read_excel_table

    path = str(tmp_path / "supp.xlsx")
    _write_min_xlsx(path, {
        "kinases": [
            ["GENE", "SUB_GENE", "SITE"],
            ["AKT1", "GSK3B", "S9"],
            ["SRC", None, "Y416"],
            ["CDK1", "LMNA", 22],
        ],
        "other": [["A"], ["x"]],
    })
    df = read_excel_table(spark, path, sheet="kinases")
    assert df.columns == ["GENE", "SUB_GENE", "SITE"]
    rows = {tuple(r) for r in df.collect()}
    assert rows == {("AKT1", "GSK3B", "S9"), ("SRC", None, "Y416"), ("CDK1", "LMNA", "22")}
    other = read_excel_table(spark, path, sheet=1)
    assert other.columns == ["A"] and [r.A for r in other.collect()] == ["x"]


def test_excel_rels_resolution_and_implicit_columns(spark, tmp_path):
    """A real xlsx maps sheets via workbook relationships, not positional
    file names: after an Excel sheet delete/reorder, sheet index 0 can
    live in worksheets/sheet2.xml. Cells without an 'r' ref (legal per
    OOXML) occupy the next implicit column, not column A."""
    import zipfile

    path = str(tmp_path / "rels.xlsx")
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    # workbook order: ["data"] only, but its rId points at sheet2.xml
    wb = (f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
          '<sheet name="data" sheetId="5" r:id="rId9"/></sheets></workbook>')
    rels = ('<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId9" Type="x" Target="worksheets/sheet2.xml"/>'
            "</Relationships>")
    # rows use inline strings and NO r= attrs -> implicit running columns
    ws = (f'<worksheet xmlns="{ns}"><sheetData>'
          '<row><c t="inlineStr"><is><t>H1</t></is></c>'
          '<c t="inlineStr"><is><t>H2</t></is></c></row>'
          '<row><c t="inlineStr"><is><t>a</t></is></c><c><v>7</v></c></row>'
          "</sheetData></worksheet>")
    decoy = (f'<worksheet xmlns="{ns}"><sheetData>'
             '<row><c r="A1" t="inlineStr"><is><t>WRONG</t></is></c></row>'
             "</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/worksheets/sheet1.xml", decoy)
        z.writestr("xl/worksheets/sheet2.xml", ws)

    from biokg_spark.sources.tables import read_excel_table

    df = read_excel_table(spark, path, sheet="data")
    assert df.columns == ["H1", "H2"]
    assert [tuple(r) for r in df.collect()] == [("a", "7")]
    # header=False keeps row 0 as data with synthesized names
    df2 = read_excel_table(spark, path, sheet=0, header=False)
    assert df2.columns == ["_c0", "_c1"]
    assert {tuple(r) for r in df2.collect()} == {("H1", "H2"), ("a", "7")}


def test_write_family_table_partitioned(spark, tmp_path):
    """The family-table sink lays out one directory per partition value
    (predicate-partitioned family tables, SURVEY §1.4); the catalog
    (Iceberg) route is documented and auto-falls back to the parquet
    layout when no catalog is configured — as in this container."""
    import os

    from biokg_spark.sources.tables import write_family_table

    df = spark.createDataFrame(
        [("a", "PPI", "b"), ("c", "DPI", "d"), ("e", "PPI", "f")],
        "subj string, pred string, obj string",
    )
    out = str(tmp_path / "links_table")
    mode = write_family_table(df, out, partition_by=["pred"])
    assert mode == "path"
    parts = {d for d in os.listdir(out) if d.startswith("pred=")}
    assert parts == {"pred=PPI", "pred=DPI"}
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: a pred filter must prune to one partition dir
    plan = back.where("pred = 'PPI'")._jdf.queryExecution().executedPlan().toString()
    assert "PPI" in plan


def test_write_family_table_iceberg_runtime_smoke(tmp_path):
    """Real Iceberg catalog write IF the runtime jar is present, else a
    pinned skip (r3 verdict item 8).

    The container ships no iceberg-spark-runtime jar and has no network
    to fetch one (verified: pyspark/jars has no iceberg artifact;
    Maven Central unresolvable), so the catalog branch of
    write_family_table cannot be integration-tested here. The moment a
    jar lands in SPARK_GRAFT_ICEBERG_JAR (or pyspark/jars), this test
    builds a hadoop-type Iceberg catalog in tmp_path, writes a
    partitioned family table through the writeTo(...).partitionedBy(...)
    branch, and asserts the 'catalog' route + readback."""
    import glob
    import os

    import pyspark
    import pytest

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg*.jar")
    )
    env_jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if env_jar:
        jars.append(env_jar)
    if not jars:
        pytest.skip(
            "iceberg-spark-runtime jar not available in this container "
            "(no network to vendor it); catalog branch covered by the "
            "documented path fallback in test_write_family_table_partitioned"
        )

    from pyspark.sql import SparkSession

    from biokg_spark.sources.tables import write_family_table

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("iceberg-smoke")
        .config("spark.jars", ",".join(jars))
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.smoke", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.smoke.type", "hadoop")
        .config("spark.sql.catalog.smoke.warehouse", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        df = spark.createDataFrame(
            [("a", "PPI", "b"), ("c", "TARGET", "d")],
            "subj string, pred string, obj string",
        )
        mode = write_family_table(df, "smoke.db.links", partition_by=["pred"])
        assert mode == "catalog"
        back = spark.table("smoke.db.links")
        assert back.count() == 2
        assert {r.pred for r in back.select("pred").collect()} == {"PPI", "TARGET"}
    finally:
        spark.stop()
