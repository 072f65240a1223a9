"""Equality gate for the Arrow parse-batch builder (operators/extract.py).

``_build_parse_arrays`` assembles the spans/tables/error arrays by hand from
flat lists and offset vectors.  Its reference is pyarrow's own conversion of
the dict-form parse (``pa.array(<kernel.parse_document output>, type=...)``),
which shares no code with the hand-built offsets.  Corpora: synthetic
markdown, synthetic HTML, the fixture corpus, and the degenerate edges
(empty string, None, no tables).  The Spark roundtrip is checked against
``kernel.parse_document`` document by document."""

import pyarrow as pa

from document_parser_spark.corpus import (
    fixture_documents,
    synthesize_doc,
    synthesize_html_doc,
)
from document_parser_spark.kernel import parse_document
from document_parser_spark.operators.extract import _build_parse_arrays, _parse_one, _parse_text
from document_parser_spark.schemas import PARSE_RESULT


def _types():
    from pyspark.sql.pandas.types import to_arrow_type

    return (
        to_arrow_type(PARSE_RESULT["spans"].dataType),
        to_arrow_type(PARSE_RESULT["tables"].dataType),
    )


def _assert_builder_matches_pyarrow(texts):
    spans_type, tables_type = _types()
    dict_form = [parse_document(t if t is not None else "") for t in texts]
    sd = pa.array([d["spans"] for d in dict_form], type=spans_type)
    td = pa.array([d["tables"] for d in dict_form], type=tables_type)
    ed = pa.array([None] * len(texts), type=pa.string())
    sc, tc, ec = _build_parse_arrays(
        [_parse_one(_parse_text, t) for t in texts], spans_type, tables_type
    )
    assert sc.type.equals(sd.type) and tc.type.equals(td.type)
    assert sc.equals(sd), "spans arrays diverge from pyarrow's conversion"
    assert tc.equals(td), "tables arrays diverge from pyarrow's conversion"
    assert ec.equals(ed)


def test_columnar_equals_dict_on_synthetic_markdown():
    _assert_builder_matches_pyarrow([synthesize_doc(i)["text"] for i in range(300)])


def test_columnar_equals_dict_on_synthetic_html():
    _assert_builder_matches_pyarrow([synthesize_html_doc(i)["text"] for i in range(100)])


def test_columnar_equals_dict_on_fixtures():
    fx = fixture_documents()
    texts = [d["text"] if isinstance(d, dict) else d for d in fx]
    assert texts, "fixture corpus is empty"
    _assert_builder_matches_pyarrow(texts)


def test_columnar_equals_dict_on_edges():
    _assert_builder_matches_pyarrow(
        [
            "",
            None,
            "no tables at all",
            "| a | b |\n|---|---|\n| 1 | 2 |",
            "| lone | header |\n| no separator |",
            "Title line\n\n| k | v |\n|---|---|\n| x | 1 |\n| y | 2 |\n\ntail",
        ]
    )


def test_spark_roundtrip_matches_dict_path(spark):
    """parse_documents through a real mapInArrow roundtrip returns, per
    document, exactly the dict-form kernel.parse_document spans and
    tables."""
    from document_parser_spark.operators.extract import parse_documents

    rows = [(str(i), synthesize_doc(i)["text"]) for i in range(60)] + [
        ("h0", synthesize_html_doc(0)["text"]),
        ("e0", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in parse_documents(df).collect()}
    assert sorted(got) == sorted(doc_id for doc_id, _ in rows)
    for doc_id, text in rows:
        want = parse_document(text)
        row = got[doc_id]
        assert row["error"] is None
        assert [s.asDict() for s in row["spans"]] == want["spans"], doc_id
        assert [t.asDict(recursive=True) for t in row["tables"]] == want["tables"], doc_id
    assert any(got[doc_id]["tables"] for doc_id, _ in rows)  # tables exercised
