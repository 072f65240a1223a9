"""Presentation parity: format_search_results / format_row_results must be
BYTE-EQUAL to the reference's print functions on the same inputs (the last
user-visible surface of a migration)."""

import contextlib
import io

import pytest

from document_parser_spark.presentation import format_row_results, format_search_results
from tests.conftest import load_reference_functions


@pytest.fixture(scope="module")
def ref():
    return load_reference_functions(
        "table_search.py", ["SearchResult", "print_search_results", "print_row_results"]
    )


def _capture(fn, *args, **kwargs) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(*args, **kwargs)
    return buf.getvalue()


_SEARCH_ROWS = [
    dict(
        table_index=2,
        table_source="markdown",
        table_type="vertical",
        table_title="CONTRIBUTING SCIENTISTS",
        row=0,
        col=1,
        header="Value",
        header_levels=["Value"],
        cell_text="Dr. Maria\nChen",
        match_type="key_value",
        match_score=1.0,
        context={"key": "Pathology", "key_column": "Key", "value_column": "Value"},
    ),
    dict(
        table_index=5,
        table_source="markdown",
        table_type="horizontal",
        table_title="",
        row=3,
        col=0,
        header="Group\nNumber",
        header_levels=["Group Number"],
        cell_text="2",
        match_type="cell",
        match_score=0.875,
        context=None,
    ),
]

_ROW_ROWS = [
    dict(
        table_index=1,
        table_type="horizontal",
        table_title="Experimental Design",
        row=1,
        matched_column="Group Number",
        matched_value="2",
        match_score=1.0,
        row_data={"Group Number": "2", "Dose Level\n(mg/kg)": "50\nper day"},
    ),
]


def test_search_results_byte_parity(ref):
    ref_results = [ref["SearchResult"](**{**r, "match_score": float(r["match_score"])})
                   for r in _SEARCH_ROWS]
    expected = _capture(ref["print_search_results"], ref_results)
    assert format_search_results(_SEARCH_ROWS) == expected


def test_search_results_truncation_parity(ref):
    rows = [_SEARCH_ROWS[0]] * 25
    ref_results = [ref["SearchResult"](**r) for r in rows]
    expected = _capture(ref["print_search_results"], ref_results, 20)
    got = format_search_results(rows, max_display=20)
    assert got == expected
    assert "... and 5 more results" in got


def test_row_results_byte_parity(ref):
    expected = _capture(ref["print_row_results"], [dict(r) for r in _ROW_ROWS])
    assert format_row_results(_ROW_ROWS) == expected


def test_engine_rows_format(spark):
    """Collected engine rows (Spark Row with struct context) format cleanly."""
    import __spark_entry__ as entry

    rows = (
        entry.queries()["search_key_value_pathology"](spark, "/root/testdata/sf0.001")
        .limit(3)
        .collect()
    )
    # header_levels/context are to_json'd strings in the contract query;
    # formatting must still produce the scaffold lines
    text = format_search_results(rows)
    assert "Found 2 results" in text or "Found 3 results" in text
    assert "Match Score:" in text
