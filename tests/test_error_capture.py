"""North-rule lineage: per-document parse failures must never throw — they
become a ``kind='error'`` span + a non-null error column, and the lineage
metrics count them."""

from unittest import mock

from document_parser_spark.operators import extract


def test_parse_one_captures_exceptions():
    """A kernel exception on one document becomes that row's ``error`` value
    and its only span (``kind='error'``) in the Arrow batch; the
    neighbouring document parses normally."""
    from pyspark.sql.pandas.types import to_arrow_type

    from document_parser_spark.schemas import PARSE_RESULT

    good = extract._parse_one(extract._parse_text, "| a | b |\n|---|---|\n| 1 | 2 |")
    with mock.patch.object(
        extract, "parse_document_columns", side_effect=ValueError("boom at offset 7")
    ):
        bad = extract._parse_one(extract._parse_text, "| a |\n|---|\n| 1 |")
    message = "ValueError: boom at offset 7"
    error_span = {"kind": "error", "text": message, "media_ref": None, "offset": 0}
    assert bad == ([error_span], [], message)

    spans, tables, errors = extract._build_parse_arrays(
        [good, bad],
        to_arrow_type(PARSE_RESULT["spans"].dataType),
        to_arrow_type(PARSE_RESULT["tables"].dataType),
    )
    assert errors.to_pylist() == [None, message]
    assert spans.to_pylist()[1] == [error_span]
    assert tables.to_pylist()[1] == []
    assert len(tables.to_pylist()[0]) == 1  # the good row keeps its table


def test_segment_errors_use_the_shared_capture():
    """A failing segment scan goes through the same ``_parse_one`` →
    ``_build_parse_arrays`` capture as a failing document: the segment's row
    carries one ``kind='error'`` span (offset 0, like a failed document) and
    the message, and the neighbouring segment of the same document parses."""
    from pyspark.sql.pandas.types import to_arrow_type

    from document_parser_spark.kernel import segmentation
    from document_parser_spark.schemas import PARSE_RESULT

    text = "\n".join(["intro"] * 30 + ["| a | b |", "|---|---|", "| 1 | 2 |"] + ["outro"] * 30)
    [(off0, seg0), (off1, seg1)], repeated = segmentation.segment_document(text, target_chars=200)
    good = extract._parse_one(segmentation.parse_segment_columns, seg0, off0, repeated)
    with mock.patch.object(
        segmentation, "scan_segment", side_effect=ValueError("boom in segment")
    ):
        bad = extract._parse_one(segmentation.parse_segment_columns, seg1, off1, repeated)
    message = "ValueError: boom in segment"
    error_span = {"kind": "error", "text": message, "media_ref": None, "offset": 0}
    assert off1 > 0 and bad == ([error_span], [], message)

    spans, tables, errors = extract._build_parse_arrays(
        [good, bad],
        to_arrow_type(PARSE_RESULT["spans"].dataType),
        to_arrow_type(PARSE_RESULT["tables"].dataType),
    )
    assert errors.to_pylist() == [None, message]
    assert spans.to_pylist()[1] == [error_span]
    assert tables.to_pylist()[1] == []
    assert [t["line_start"] for t in tables.to_pylist()[0]] == [30]


def test_error_rows_counted_in_lineage(spark):
    from pyspark.sql import functions as F

    from document_parser_spark.plans.resume import lineage_metrics
    from document_parser_spark.schemas import PARSE_RESULT
    import pyspark.sql.types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False)]
        + [PARSE_RESULT["spans"], PARSE_RESULT["tables"], PARSE_RESULT["error"]]
    )
    rows = [
        ("ok-doc", [{"kind": "text", "text": "fine", "media_ref": None, "offset": 0}], [], None),
        ("bad-doc", [{"kind": "error", "text": "ValueError: x", "media_ref": None, "offset": 0}], [], "ValueError: x"),
    ]
    parsed = spark.createDataFrame(rows, schema).withColumn("bucket", F.lit(0))
    lineage = lineage_metrics(parsed, "run-1", 0).first()
    assert (lineage["doc_count"], lineage["error_count"]) == (2, 1)
    kinds = dict(
        parsed.select("doc_id", F.col("spans")[0]["kind"].alias("k")).collect()
    )
    assert kinds == {"ok-doc": "text", "bad-doc": "error"}
