"""Sinks K1–K7 (SURVEY.md §2.2) re-expressed Spark-first.

Engine-side sinks write DataFrames (distributed, partitioned); the two
rich-document exporters (DOCX/PDF) are EDGE-side by design — the reference
renders one table per file on one machine (convert_table.py,
convert_table_pdf.py), so the engine's job is to deliver a per-table pandas
frame plus styled runs / merge spans, not to distribute reportlab.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLE


def write_tables_json(tables: DataFrame, path: str) -> None:
    """K1: structured tables → JSON lines (the reference's
    all_tables_output.json, use_marker_converter.py:704-708, but partitioned
    and appendable)."""
    tables.write.mode("overwrite").json(path)


def read_tables_json(spark: SparkSession, path: str) -> DataFrame:
    """S6: the query engine's JSON input (table_search.py:530-532) with the
    declared schema — no inference."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False)]
        + [
            # tables_output flattens TABLE with index→table_index
            T.StructField("table_index" if f.name == "index" else f.name, f.dataType, True)
            for f in TABLE.fields
        ]
    )
    return spark.read.schema(schema).json(path)


def write_cells_csv(cells: DataFrame, path: str) -> None:
    """K2: the flat cell index as CSV, partitioned by doc so one document's
    tables land together (main.py:324-327 writes one CSV per table; at
    corpus scale per-file-per-table is pathological — partition dirs give
    the same addressability)."""
    (
        cells.withColumn("header_levels", F.to_json("header_levels"))
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .option("header", True)
        .csv(path)
    )


def html_table_column(tables: DataFrame) -> DataFrame:
    """K3: an HTML rendering column built with pure string expressions
    (main.py:329-333 uses docling's export; here it's engine-native)."""
    row_html = F.array_join(
        F.transform(
            F.col("cells"),
            lambda c: F.concat(F.lit("<td>"), F.coalesce(c.text, F.lit("")), F.lit("</td>")),
        ),
        "",
    )
    return tables.withColumn(
        "html",
        F.concat(
            F.lit("<table><caption>"),
            F.coalesce(F.col("title"), F.lit("")),
            F.lit("</caption><tr>"),
            row_html,
            F.lit("</tr></table>"),
        ),
    )


def write_markdown(parsed: DataFrame, path: str) -> None:
    """K4: the normalized markdown per document — reassembled from the span
    stream (use_marker_converter.py:711-717 writes rendered markdown; the
    span stream is our canonical form, so the sink is a projection)."""
    md = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s.kind != F.lit("media")),
            lambda s: s.text,
        ),
        "\n",
    )
    parsed.select("doc_id", md.alias("markdown")).write.mode("overwrite").json(path)


# --- K6: DOCX exporter --------------------------------------------------------

def docx_table_runs(markdown_table: str):
    """K6 intermediate: the exact structure the reference's DOCX writer
    renders (convert_table.py:10-145) — a padded grid where every cell is a
    list of styled runs (plain / superscript / subscript / break) and header
    rows are bold.

    Parse dialect: every line above the ``|---|`` separator is a header row
    (convert_table.py:22-40 == kernel.parse_table_sink_dialect); run
    splitting: literal ``<br>`` line breaks, then ``^word``/``_word`` marker
    tokens (convert_table.py:70-101 == kernel.split_script_runs).  With
    python-docx installed, ``write_docx`` renders this verbatim; without it,
    the intermediate IS the exporter's output."""
    from ..kernel import parse_table_sink_dialect, split_script_runs

    parsed = parse_table_sink_dialect(markdown_table)
    if parsed is None:
        return None
    n_header = len(parsed["header_rows"])
    grid = parsed["header_rows"] + parsed["data_rows"]
    cells = []
    for r, row in enumerate(grid):
        for c, text in enumerate(row):
            cells.append(
                {
                    "row": r,
                    "col": c,
                    "bold": r < n_header,
                    "runs": [{"kind": k, "text": t} for k, t in split_script_runs(text)],
                }
            )
    return {
        "num_rows": len(grid),
        "num_cols": parsed["num_cols"],
        "header_row_count": n_header,
        "cells": cells,
    }


def write_docx(markdown_table: str, path: str) -> None:
    """K6 file writer: renders ``docx_table_runs`` with python-docx —
    centered paragraphs, Table Grid style, bold headers, super/subscript
    runs, explicit breaks (convert_table.py:63-112; the disabled 'Day 15'
    merge logic at :118-142 is deliberately NOT reproduced).  The library is
    not in this container, so the writer is gated the same way the
    multimodal decoders are."""
    try:  # pragma: no cover - python-docx absent in this container
        from docx import Document
        from docx.enum.table import WD_ALIGN_VERTICAL
        from docx.enum.text import WD_ALIGN_PARAGRAPH
    except ImportError as exc:
        raise NotImplementedError(
            "python-docx is not installed; consume docx_table_runs() instead"
        ) from exc

    structure = docx_table_runs(markdown_table)
    if structure is None:
        return
    doc = Document()
    doc.add_heading("Converted Table", level=2)
    table = doc.add_table(rows=structure["num_rows"], cols=structure["num_cols"])
    table.style = "Table Grid"
    for cell_spec in structure["cells"]:
        cell = table.cell(cell_spec["row"], cell_spec["col"])
        cell.text = ""
        paragraph = cell.paragraphs[0]
        for run_spec in cell_spec["runs"]:
            if run_spec["kind"] == "break":
                paragraph.add_run().add_break()
                continue
            run = paragraph.add_run(run_spec["text"])
            run.font.superscript = run_spec["kind"] == "superscript"
            run.font.subscript = run_spec["kind"] == "subscript"
            if cell_spec["bold"]:
                run.bold = True
        paragraph.alignment = WD_ALIGN_PARAGRAPH.CENTER
        cell.vertical_alignment = WD_ALIGN_VERTICAL.CENTER
    doc.save(path)


# --- K7: PDF exporter -----------------------------------------------------------

def pdf_table_commands(markdown_table: str):
    """K7 intermediate: the ReportLab build plan the reference's PDF writer
    assembles (convert_table_pdf.py:10-148) — the padded paragraph grid
    (owner cells carry text with ``<br>``→``<br/>`` and ``<b>`` headers;
    covered cells are empty placeholders) plus the SPAN style commands
    [('SPAN', (start_col, start_row), (end_col, end_row)), ...] from
    merged-cell inference (kernel.infer_merged_spans == H7/W4)."""
    from ..kernel import parse_table_sink_dialect

    parsed = parse_table_sink_dialect(markdown_table)
    if parsed is None:
        return None
    n_header = len(parsed["header_rows"])
    grid = parsed["header_rows"] + parsed["data_rows"]

    owner_of = {}
    for span in parsed["merged_spans"]:
        for r in range(span["min_row"], span["max_row"] + 1):
            for c in range(span["min_col"], span["max_col"] + 1):
                owner_of[(r, c)] = (span["owner_row"], span["owner_col"])

    table_data = []
    for r, row in enumerate(grid):
        out_row = []
        for c, text in enumerate(row):
            if owner_of.get((r, c), (r, c)) != (r, c):
                out_row.append("")  # covered by a span — placeholder
                continue
            rendered = text.replace("<br>", "<br/>")
            if r < n_header:
                rendered = f"<b>{rendered}</b>"
            out_row.append(rendered)
        table_data.append(out_row)

    span_commands = [
        ("SPAN", (s["min_col"], s["min_row"]), (s["max_col"], s["max_row"]))
        for s in parsed["merged_spans"]
    ]
    return {
        "table_data": table_data,
        "span_commands": span_commands,
        "header_row_count": n_header,
        "num_cols": parsed["num_cols"],
    }


def write_pdf(markdown_table: str, path: str) -> None:
    """K7 file writer: renders ``pdf_table_commands`` with ReportLab —
    landscape letter, GRID/VALIGN/ALIGN base style plus the inferred SPAN
    commands (convert_table_pdf.py:121-148).  Gated on the library."""
    try:  # pragma: no cover - reportlab absent in this container
        from reportlab.lib import colors
        from reportlab.lib.pagesizes import landscape, letter
        from reportlab.lib.styles import getSampleStyleSheet
        from reportlab.platypus import Paragraph, SimpleDocTemplate, Table, TableStyle
    except ImportError as exc:
        raise NotImplementedError(
            "reportlab is not installed; consume pdf_table_commands() instead"
        ) from exc

    plan = pdf_table_commands(markdown_table)
    if plan is None:
        return
    styles = getSampleStyleSheet()
    body = styles["BodyText"]
    body.alignment = 1
    data = [
        [Paragraph(text, body) if text else "" for text in row]
        for row in plan["table_data"]
    ]
    style = TableStyle(
        [
            ("GRID", (0, 0), (-1, -1), 1, colors.black),
            ("VALIGN", (0, 0), (-1, -1), "MIDDLE"),
            ("ALIGN", (0, 0), (-1, -1), "CENTER"),
        ]
    )
    for cmd, start, end in plan["span_commands"]:
        style.add(cmd, start, end)
    doc = SimpleDocTemplate(path, pagesize=landscape(letter))
    table = Table(data)
    table.setStyle(style)
    doc.build([Paragraph("<b>Converted Table</b>", styles["Heading2"]), table])


def export_table_runs(parsed: DataFrame) -> DataFrame:
    """Engine-side K6/K7 feed: every extracted table span → its styled-run
    grid and SPAN commands as typed columns, computed distributed (the edge
    writers then render one collected table each).  One mapInPandas stage
    over the table spans — the serialized block never hits the driver."""
    import pandas as pd
    from typing import Iterator

    table_spans = parsed.select(
        "doc_id",
        F.explode(F.filter("spans", lambda s: s.kind == F.lit("table"))).alias("s"),
    ).select("doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("block"))

    schema = (
        "doc_id string, offset long, row long, col long, bold boolean, "
        "runs array<struct<kind:string,text:string>>, covered boolean, "
        "span_min_row long, span_max_row long, span_min_col long, span_max_col long"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split(" ")[0] for f in schema.split(", ")]
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                runs = docx_table_runs(rec.block)
                plan = pdf_table_commands(rec.block)
                if runs is None or plan is None:
                    continue
                span_at = {
                    (s[1][1], s[1][0]): s for s in plan["span_commands"]
                }  # owner (row, col) -> SPAN
                covered = set()
                for _, (sc, sr), (ec, er) in plan["span_commands"]:
                    for r in range(sr, er + 1):
                        for c in range(sc, ec + 1):
                            if (r, c) != (sr, sc):
                                covered.add((r, c))
                for cell in runs["cells"]:
                    key = (cell["row"], cell["col"])
                    span = span_at.get(key)
                    rows.append(
                        {
                            "doc_id": rec.doc_id,
                            "offset": rec.offset,
                            "row": cell["row"],
                            "col": cell["col"],
                            "bold": cell["bold"],
                            "runs": cell["runs"],
                            "covered": key in covered,
                            "span_min_row": span[1][1] if span else None,
                            "span_max_row": span[2][1] if span else None,
                            "span_min_col": span[1][0] if span else None,
                            "span_max_col": span[2][0] if span else None,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return table_spans.mapInPandas(op, schema=schema)


def to_pandas_tables(tables: DataFrame, doc_id: str):
    """K6/K7 edge feed + A5: one pandas DataFrame per table of one document
    (the reference's tables_to_dataframes_from_markdown, main.py:160-179).
    Collects ONE document — the only intentional driver-side materialization
    in the engine."""
    import pandas as pd

    out = []
    rows = (
        tables.filter(F.col("doc_id") == doc_id)
        .orderBy("table_index")
        .collect()
    )
    for t in rows:
        headers = list(t["headers"])
        grid: dict = {}
        for c in t["cells"]:
            grid.setdefault(c["row"], {h: "" for h in headers})
            if c["col"] < len(headers):
                grid[c["row"]][headers[c["col"]]] = c["text"]
        frame = pd.DataFrame([grid[r] for r in sorted(grid)], columns=headers)
        out.append({"index": t["table_index"], "title": t["title"], "df": frame})
    return out
