"""Segmentation protocol: segment-parallel parse output must be EXACTLY the
unsegmented parse, kernel-level and Spark-level (SURVEY.md §4.3, §7.3 #2)."""

import pytest

from document_parser_spark import kernel
from document_parser_spark.corpus import fixture_documents
from document_parser_spark.kernel.segmentation import (
    parse_document_segmented,
    plan_segments,
    segment_document,
)
from document_parser_spark.operators.extract import assemble_document_text, parse_documents
from document_parser_spark.plans.segmentation import TARGET_CHARS, parse_documents_segmented
from document_parser_spark.sources.data import fixture_input_df


def test_kernel_segmented_equals_plain():
    for doc in fixture_documents():
        plain = kernel.parse_document(doc["text"])
        for target in (150, 2000):
            seg = parse_document_segmented(doc["text"], target_chars=target)
            assert seg["spans"] == plain["spans"], (doc["doc_id"], target)
            assert seg["tables"] == plain["tables"], (doc["doc_id"], target)


def test_split_points_avoid_blocks_and_lookback():
    doc = next(d for d in fixture_documents() if d["doc_id"] == "fx-pathological")
    md = kernel.normalize_scripts(doc["text"])
    stripped = [ln.strip() for ln in md.splitlines()]
    starts = plan_segments(stripped, target_lines=40)
    assert len(starts) > 10
    begins = {
        i
        for i in range(len(stripped) - 1)
        if kernel.is_table_row(stripped[i]) and kernel.is_separator_row(stripped[i + 1])
    }
    for s in starts[1:]:
        # no begin-marker within the 5-line lookback window after a split
        assert not any(b in begins for b in range(s, s + 5)), s


def test_segment_sizes_bounded():
    doc = next(d for d in fixture_documents() if d["doc_id"] == "fx-pathological")
    segments, _ = segment_document(doc["text"], target_chars=20_000)
    assert len(segments) >= 5
    sizes = [len(s) for _, s in segments]
    assert max(sizes) < 20_000 * 3  # no runaway segment


def test_spark_segmented_equals_plain(spark):
    base = assemble_document_text(fixture_input_df(spark)).select("doc_id", "text")
    pathological = next(d for d in fixture_documents() if d["doc_id"] == "fx-pathological")
    # 11 copies (~1.17 MB) split into three TARGET_CHARS segments, so the
    # Spark reassembly really concatenates segments and renumbers tables
    giant = "\n".join([pathological["text"]] * 11)
    assert len(segment_document(giant, TARGET_CHARS)[0]) == 3
    extra = spark.createDataFrame(
        [("fx-giant", giant), ("fx-null-text", None)], "doc_id string, text string"
    )
    df = base.unionByName(extra)
    plain = parse_documents(df).select("doc_id", "spans", "tables", "error")
    # fx-pathological and fx-giant exceed 10,000 chars and take the segmented
    # path; the other fixtures and the null-text row take the plain parse
    seg = parse_documents_segmented(df, threshold_chars=10_000)

    def canon(frame):
        return {
            r["doc_id"]: (r["spans"], r["tables"], r["error"])
            for r in (row.asDict(recursive=True) for row in frame.collect())
        }

    a, b = canon(plain), canon(seg)
    assert set(a) == set(b)
    assert len(a["fx-giant"][1]) == 11 * len(a["fx-pathological"][1])
    for doc_id in a:
        assert a[doc_id][0] == b[doc_id][0], (doc_id, "spans")
        assert a[doc_id][1] == b[doc_id][1], (doc_id, "tables")
        assert a[doc_id][2] == b[doc_id][2], (doc_id, "error")
