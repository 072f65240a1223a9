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

    good = extract._parse_one("| a | b |\n|---|---|\n| 1 | 2 |")
    with mock.patch.object(
        extract, "parse_document_columns", side_effect=ValueError("boom at offset 7")
    ):
        bad = extract._parse_one("| a |\n|---|\n| 1 |")
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


def test_error_rows_counted_in_lineage(spark):
    from pyspark.sql import functions as F

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
    parsed = spark.createDataFrame(rows, schema)
    agg = parsed.agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
    ).first()
    assert (agg["docs"], agg["errors"]) == (2, 1)
    kinds = dict(
        parsed.select("doc_id", F.col("spans")[0]["kind"].alias("k")).collect()
    )
    assert kinds == {"ok-doc": "text", "bad-doc": "error"}
